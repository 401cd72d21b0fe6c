#!/usr/bin/env python3
"""graft benchmark: one (workload, seed) run.

    python3 perfbench/run.py --workload ingest|match|cluster --seed N \
        --seconds S --trace 0|1

Run from the repository root. It compiles graft's sources and the harness
in perfbench/src with the Scala compiler shipped in Spark's jars (into
.bench_build/, reused while the sources are unchanged), writes the seed's
inputs, then starts one fresh JVM on the prebuilt classpath that sets up,
warms up and times the batches. The last line of standard output is the
result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ledger
(and writes it, with its spans, under .bench_build/ledger/).
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # the checkout stays as it was, apart from .bench_build
import gen  # noqa: E402
import score  # noqa: E402

BUILD = ".bench_build"
WORKLOADS = ("ingest", "match", "cluster")
# One Spark width and one shuffle-partition count for every workload (see
# README.md for the measured spread behind the choice).
WIDTH = 4
SHUFFLE_PARTITIONS = 4
HEAP = "2g"
RUN_LIMIT_S = 170.0

# Spark 4 on JDK 17 needs these outside spark-submit (which injects them).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

def die(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        die("no Spark distribution with a Scala compiler found (set SPARK_HOME)")
    return jars


def sources():
    main = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    if not main:
        die("graft sources (src/main/scala) not found; run from the repository root")
    bench = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return main + [os.path.relpath(p) for p in bench]


def build(jars):
    """Compile graft + harness once per source state; return the classes dir."""
    files = sources()
    h = hashlib.sha256()
    for p in files + sorted(glob.glob(os.path.join(jars, "*.jar"))):
        h.update(p.encode())
        if p.endswith(".scala"):
            with open(p, "rb") as f:
                h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(classes, ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(files) + "\n")
    t0 = time.time()
    r = subprocess.run(
        ["java", "-Xss16m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
         "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp, "@" + argfile],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=800)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        die("compilation failed", 1)
    with open(os.path.join(tmp, ".stamp"), "w") as f:
        f.write(stamp)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    print("perfbench: compiled %d files in %.0f s" % (len(files), time.time() - t0),
          file=sys.stderr)
    return classes


def inputs(workload, seed):
    """The seed's inputs, generated once per generator version."""
    with open(gen.__file__, "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:12]
    out = os.path.join(BUILD, "inputs", "%s-%d-%s" % (workload, seed, version))
    params = os.path.join(out, "params.json")
    if os.path.exists(params):
        with open(params) as f:
            return out, json.load(f)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    p = gen.generate(workload, seed, tmp)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out, p


def git_head():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], stdout=subprocess.PIPE,
                           stderr=subprocess.DEVNULL, text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return None


def jvm_cmd(classes, jars, args):
    tmp = os.path.abspath(os.path.join(BUILD, "tmp"))
    local = os.path.abspath(os.path.join(BUILD, "spark-local"))
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    cmd = ["java", "-Xms" + HEAP, "-Xmx" + HEAP, "-XX:+UseG1GC",
           "-Djava.io.tmpdir=" + tmp, "-Dspark.local.dir=" + local,
           "-Dspark.sql.warehouse.dir=" + os.path.abspath(os.path.join(BUILD, "warehouse"))]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    return cmd + ["-cp", os.pathsep.join([classes, os.path.join(jars, "*")]),
                  "graft.perfbench.PerfBench"] + args


def run_jvm(classes, jars, args, log, deadline):
    """Run the benchmark JVM to its end; it has exited when this returns."""
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.abspath(os.path.join(BUILD, "spark-local")))
    with open(log, "w") as lf:
        proc = subprocess.Popen(jvm_cmd(classes, jars, args), stdout=lf,
                                stderr=subprocess.STDOUT, env=env)
        try:
            code = proc.wait(timeout=max(5.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            code = None
        finally:
            if proc.poll() is None:
                proc.kill()
            proc.wait()
    if code is None:
        die("JVM run exceeded the time limit; log: " + log, 1)
    if code != 0:
        with open(log, errors="replace") as f:
            sys.stderr.write(f.read()[-4000:])
        die("JVM exited with %d; log: %s" % (code, log), 1)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def self_times(spans):
    """Span duration minus the part of it its child spans cover."""
    out = []
    for i, s in enumerate(spans):
        kids = sorted((c["start_ns"], c["end_ns"]) for c in spans if c["parent"] == i)
        covered, cur_s, cur_e = 0, None, None
        for a, b in kids:
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        dur = s["end_ns"] - s["start_ns"]
        out.append(dict(s, wall_s=dur / 1e9, self_s=(dur - covered) / 1e9))
    return out


def layer_metrics(workload, res):
    """Per-layer metrics: medians over traced batches, spark.* over the
    untraced half, set-up reads and the similarity probe."""
    m = {}
    traced = res.get("layers_traced", [])
    keys = sorted({k for b in traced for k in b})
    for k in keys:
        if not k.startswith("spark.") and k != "cpu_s":
            m[k] = median([b[k] for b in traced if k in b])
    untraced = res.get("layers_untraced", [])
    for k in sorted({k for b in untraced for k in b}):
        m[k] = median([b[k] for b in untraced if k in b])
    if workload != "ingest":
        m["sources.read_s"] = res["sources_read_s"]
        m["sources.rows"] = res["sources_rows"]
    sim = res.get("similarity", {})
    m["similarity.pair_ns"] = sim.get("pair_ns", 0.0)
    m["similarity.equal_share"] = sim.get("equal_share", 0.0)
    m["trace.overhead"] = (median(res.get("traced_batch_s", [])) / median(res["batch_s"])
                           if res["batch_s"] and res.get("traced_batch_s") else 0.0)
    m["run.batches"] = len(res["batch_s"]) + len(res.get("traced_batch_s", []))
    m["run.warmup_batches"] = res["warmup_batches"]
    return m


def main(argv):
    ap = argparse.ArgumentParser(description="graft benchmark run")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    deadline = time.time() + RUN_LIMIT_S

    jars = spark_jars()
    classes = build(jars)
    deadline = max(deadline, time.time() + 120)  # a first-run build gets its own time
    in_dir, params = inputs(a.workload, a.seed)
    runs = os.path.join(BUILD, "runs")
    os.makedirs(runs, exist_ok=True)
    tag = "%s-%d-t%d" % (a.workload, a.seed, a.trace)
    width = min(WIDTH, os.cpu_count() or 1)
    common = [a.workload, in_dir, str(a.seconds), str(a.trace), str(width),
              str(SHUFFLE_PARTITIONS)]

    out = os.path.join(runs, tag + ".json")
    for stale in (out, out + ".pred.tsv"):
        if os.path.exists(stale):
            os.remove(stale)
    run_jvm(classes, jars, common + [out], out + ".log", deadline)
    with open(out) as f:
        res = json.load(f)
    if "error" in res:
        die("every batch failed: " + res["error"], 1)

    quality = score.score(a.workload, os.path.join(in_dir, "truth.csv"), out + ".pred.tsv")
    threshold = score.THRESHOLDS[a.workload]
    correct = res["failed"] == 0 and quality >= threshold
    batch = res["batch_s"]
    provenance = dict(
        res["host"], workload=a.workload, seed=a.seed, seconds=a.seconds, trace=a.trace,
        git_head=git_head(), records_per_batch=res["records"],
        batches=len(batch) + len(res.get("traced_batch_s", [])),
        warmup_batches=res["warmup_batches"], warmup_s=res["warmup_s"],
        attempted=res["attempted"], failed=res["failed"], failures=res["failures"],
        quality=quality, quality_threshold=threshold,
        generator=params)
    with open("BENCHMARK.json") as f:
        units = {m["name"]: m["unit"]
                 for m in json.load(f)["end_to_end" if a.trace == 0 else "per_layer"]}
    if a.trace == 0:
        values = {
            "records_per_s": res["records"] / median(batch),
            "cpu_s": median(res["batch_cpu_s"]),
            "setup_s": res["setup_s"],
            "live_heap_mb": res["live_heap_mb"],
            "quality": quality,
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in units.items()}
    else:
        lm = layer_metrics(a.workload, res)
        metrics = {k: {"value": lm.get(k, 0.0), "unit": u} for k, u in units.items()}
        ledger_dir = os.path.join(BUILD, "ledger")
        os.makedirs(ledger_dir, exist_ok=True)
        n = len(glob.glob(os.path.join(ledger_dir, "%s-seed%d-*.json" % (a.workload, a.seed))))
        ledger = os.path.join(ledger_dir, "%s-seed%d-%d.json" % (a.workload, a.seed, n + 1))
        with open(ledger, "w") as f:
            json.dump({"provenance": provenance, "metrics": lm,
                       "batches_traced": res.get("layers_traced", []),
                       "batches_untraced": res.get("layers_untraced", []),
                       "similarity": res.get("similarity", {}),
                       "spans": self_times(res.get("spans", []))}, f, indent=1)
        provenance["ledger"] = ledger
    print(json.dumps({"provenance": provenance}))
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    if not correct:
        print("perfbench: quality %.4f (threshold %.2f), %d failed batches: %s"
              % (quality, threshold, res["failed"], "; ".join(res["failures"][:3])),
              file=sys.stderr)
        sys.exit(1)


if __name__ == "__main__":
    main(sys.argv[1:])
