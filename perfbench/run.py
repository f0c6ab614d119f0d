#!/usr/bin/env python3
"""graft's benchmark: one run of one workload.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run it from the repository root. The first run builds graft and the
harness from source with sbt (offline); later runs reuse the build while
the sources are unchanged. Inputs are generated from --seed into a work
directory under perfbench/.work, which the run removes again.

The last line of stdout is one JSON object: correct, attempted, failed and
metrics (the end-to-end metrics with --trace 0, the per-layer metrics with
--trace 1). See README.md for what each workload and metric measures.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402

WORKLOADS = ("tweet_stream", "query_catalog")

# Workload sizes. tweet_stream: 1,000-tweet files, 4 per batch, 10 files per
# second of --seconds.
DRAIN = {"files_per_s": 8, "per_file": 1000, "max_files": 4, "baseline_files": 24}
WARM_STREAM = {"files": 32, "per_file": 250, "seed": 7}
# query_catalog: the catalog tables at 1/20 of the sf0.1 row counts (the
# warm-up pass uses 1/500).
CATALOG_SCALE, WARM_SCALE = 0.05, 0.002

# The layers each workload runs; its per-layer metrics of other layers read 0.
LAYERS = {
    "tweet_stream": ("sessions.", "execution.", "streaming.", "tweetreplay.",
                     "sink.", "functions.", "overhead."),
    "query_catalog": ("sessions.", "tables.", "operators.", "catalyst.",
                      "plancache.", "execution.", "overhead."),
}
ONLY_DRAIN = "execution.drain_docs_per_s_1core"

# Every run ends within this many seconds of its build being ready.
RUN_BUDGET_S = 170
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


_children = []


def run_proc(cmd, timeout, **kw):
    """Run `cmd` in its own process group; on timeout kill the whole group
    (sbt and java fork) and wait for it. Returns (returncode, stdout) or
    None on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, stdout=subprocess.PIPE,
                         text=True, **kw)
    _children.append(p)
    try:
        out, _ = p.communicate(timeout=max(1.0, timeout))
        return p.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        return None
    finally:
        _children.remove(p)


def _on_signal(signum, _frame):
    """Stop the running child's process group too, then exit."""
    for p in list(_children):
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()
    sys.exit(128 + signum)


def sample_names():
    with open(os.path.join(HERE, "catalog_sample.txt")) as fh:
        return [ln.strip() for ln in fh if ln.strip() and not ln.startswith("#")]


def source_stamp():
    """Hash of everything the build compiles, to reuse an up-to-date build."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile graft + the harness; returns the runtime classpath."""
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    stamp_file = os.path.join(HERE, "target", "source.stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as cf:
                    return cf.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx3g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts + [env.get("SBT_OPTS", "")]).strip()
    log("building graft and the harness with sbt")
    r = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"], 600,
                 cwd=HERE, env=env, stderr=subprocess.STDOUT)
    if r is None or r[0] != 0 or not os.path.exists(cp_file):
        sys.stderr.write(r[1][-4000:] if r else "sbt timed out\n")
        fail("build failed")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    with open(cp_file) as fh:
        return fh.read().strip()


def write_inputs_txt(work, **kv):
    with open(os.path.join(work, "inputs.txt"), "w") as fh:
        for k, v in kv.items():
            fh.write(f"{k}={v}\n")


def generate(workload, seed, seconds, work):
    """Write the run's inputs into `work`."""
    if workload == "query_catalog":
        gen.write_tables(os.path.join(work, "tables"), CATALOG_SCALE)
        gen.write_tables(os.path.join(work, "tables-warm"), WARM_SCALE)
        with open(os.path.join(work, "order.txt"), "w") as fh:
            fh.write("\n".join(gen.query_order(sample_names(), seed)) + "\n")
        with open(os.path.join(HERE, "expected_digests.txt")) as src, \
                open(os.path.join(work, "digests.txt"), "w") as dst:
            dst.write(src.read())
        return
    gen.write_tweets(os.path.join(work, "warm"), WARM_STREAM["seed"],
                     WARM_STREAM["files"], WARM_STREAM["per_file"])
    files = max(8, int(round(seconds * DRAIN["files_per_s"])))
    n, bad = gen.write_tweets(os.path.join(work, "replay"), seed, files,
                              DRAIN["per_file"])
    write_inputs_txt(work, tweets=n, malformed=bad, files=files, lang=gen.LANG,
                     track=gen.TRACK, **DRAIN)


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(classpath, work, args, n_cores, deadline):
    """Run the harness JVM until `deadline` (epoch s); returns (parsed
    result or None, launch epoch s)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx3g", "-XX:+UseG1GC",
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for o in JAVA_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main", "--work", work,
            "--cores", str(n_cores)] + args
    launched = time.time()
    with open(os.path.join(work, "jvm.log"), "w") as err:
        r = run_proc(cmd, deadline - launched, cwd=work, stderr=err)
    with open(os.path.join(work, "jvm.log")) as fh:
        for ln in fh:
            if ln.startswith("[perfbench] "):
                sys.stderr.write(ln)
    if r is None:
        log("the harness JVM ran out of time")
        return None, launched
    lines = [ln for ln in r[1].splitlines() if ln.startswith("PERFBENCH ")]
    if r[0] != 0 or not lines:
        with open(os.path.join(work, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        return None, launched
    return json.loads(lines[-1][len("PERFBENCH "):]), launched


def declared(kind):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec[kind]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, _on_signal)
    signal.signal(signal.SIGINT, _on_signal)

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("graft's sources (src/main/scala/graft) are not here; "
             "run from the root of a graft checkout")
    classpath = build()
    deadline = time.time() + RUN_BUDGET_S

    work = os.path.join(HERE, ".work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t0 = time.time()
        generate(a.workload, a.seed, a.seconds, work)
        gen_s = time.time() - t0
        jargs = ["--workload", a.workload, "--trace", str(a.trace)]
        res, launched = run_jvm(classpath, work, jargs, cores(), deadline)
        if res is None:
            fail("the harness JVM failed", 1)
        m = res["metrics"]
        m["setup_s"] = gen_s + (res["first_timed_epoch_ms"] / 1000.0 - launched)
        if a.trace and a.workload == "tweet_stream":
            base, _ = run_jvm(classpath, work, ["--mode", "baseline"] + jargs, 1, deadline)
            if base is None:
                fail("the local[1] baseline JVM failed", 1)
            m[ONLY_DRAIN] = base["metrics"][ONLY_DRAIN]
            res["correct"] = res["correct"] and base["correct"]
        for note in res["notes"]:
            log(note)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    units = declared("per_layer" if a.trace else "end_to_end")
    if a.trace:
        for k in units:
            if not k.startswith(LAYERS[a.workload]) or (
                    k == ONLY_DRAIN and a.workload != "tweet_stream"):
                m.setdefault(k, 0.0)
    missing = [k for k in units if k not in m]
    if missing:
        fail(f"metrics not measured: {missing}", 1)
    out = {"correct": bool(res["correct"]),
           "attempted": int(res["attempted"]),
           "failed": int(res["failed"]),
           "metrics": {k: {"value": m[k], "unit": u} for k, u in units.items()}}
    print(json.dumps(out))
    if not out["correct"]:
        sys.exit(1)


if __name__ == "__main__":
    main()
