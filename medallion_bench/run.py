"""Medallion pipeline benchmark: one command, one workload, one seed.

    python3 medallion_bench/run.py --workload daily_load --seed 1 \
        --seconds 30 --trace 0

Builds the program (src/main/scala) and the benchmark's own Scala with the
Scala compiler that ships with Spark, once per source state, into
``medallion_bench/.build/``. Then it runs cold rounds: each round generates
the seeded corpus, starts one plain JVM that calls the pipeline's entry
points, and checks the outputs against the generator's tally. Rounds repeat
while the next one still fits in ``--seconds``; every run makes at least
one.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (medians over the rounds). ``--trace 0`` reports
the end-to-end metrics (timings as CPU seconds of the JVM; each round's wall
times go to stderr), ``--trace 1`` the per-layer metrics and writes the
last round's spans to ``medallion_bench/.runs/spans-<workload>.jsonl``.
A failed check or a failed layer call prints why on stderr and exits 1.
"""

import argparse
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.dont_write_bytecode = True
import gen  # noqa: E402

SCALA = "2.13.17"


def fail(msg):
    print(f"medallion_bench: {msg}", file=sys.stderr)
    sys.exit(1)


def spark_jars():
    """The Spark jar directory the project's build.sbt compiles against
    (its `unmanagedBase`)."""
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            found = re.findall(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        found = []
    if not found:
        fail("build.sbt names no unmanagedBase jar directory")
    return found[0]


SPARK_JARS = spark_jars()
# module opens Spark needs on JDK 17 outside spark-submit (as in build.sbt)
OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]
# C1 only and the serial collector: a cold run's JIT and GC work is then
# small and much the same from run to run
JVM = ["java", "-Xmx3g", "-Xss8m", "-XX:TieredStopAtLevel=1", "-XX:+UseSerialGC",
       *OPENS,
       f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}"]
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    _bench = json.load(f)
# metric name -> unit, as BENCHMARK.json declares them
END_TO_END = {m["name"]: m["unit"] for m in _bench["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in _bench["per_layer"]}


def sources(d):
    out = []
    for base, _, names in os.walk(d):
        out += [os.path.join(base, n) for n in names if n.endswith(".scala")]
    return sorted(out)


def scalac(classpath, srcs, out):
    os.makedirs(out)
    jars = [os.path.join(SPARK_JARS, f"scala-{m}-{SCALA}.jar")
            for m in ("compiler", "library", "reflect")]
    argfile = out + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    r = subprocess.run(
        JVM[:3] + ["-cp", ":".join(jars), "scala.tools.nsc.Main", "-nowarn",
                   "-classpath", classpath, "-d", out, "@" + argfile],
        capture_output=True, text=True)
    if r.returncode != 0:
        fail(f"compile failed:\n{r.stdout}{r.stderr}")


def build():
    """Compile the program and the benchmark (one compiler run) once per
    source state; return the run classpath."""
    program = sources(os.path.join(ROOT, "src", "main", "scala"))
    if not program:
        fail(f"no program sources under {os.path.join(ROOT, 'src/main/scala')}")
    if not os.path.exists(os.path.join(SPARK_JARS, f"scala-compiler-{SCALA}.jar")):
        fail(f"no scala-compiler-{SCALA}.jar in {SPARK_JARS!r}")
    bench = sources(os.path.join(BENCH, "src"))
    h = hashlib.sha256(SCALA.encode())
    for p in program + bench:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    builds = os.path.join(BENCH, ".build")
    out = os.path.join(builds, h.hexdigest()[:16])
    spark_cp = os.path.join(SPARK_JARS, "*")
    cp = [os.path.join(out, "classes")]
    resources = os.path.join(ROOT, "src", "main", "resources")
    if os.path.isdir(resources):
        cp.append(resources)
    if not os.path.exists(os.path.join(out, "ok")):
        shutil.rmtree(builds, ignore_errors=True)  # older source states
        t = time.time()
        scalac(spark_cp, program + bench, cp[0])
        open(os.path.join(out, "ok"), "w").close()
        print(f"medallion_bench: built in {time.time() - t:.0f} s",
              file=sys.stderr)
    return ":".join(cp + [spark_cp])


def check(observed, tally):
    """Every tallied count equals the observed one; every violation is 0."""
    bad = []
    for k, v in sorted(tally.items()):
        if k.split(".")[0] in ("silver", "gold", "export", "stream"):
            if observed.get(k) != v:
                bad.append(f"{k}: expected {v}, observed {observed.get(k)}")
    bad += [f"{k}: {v}" for k, v in sorted(observed.items())
            if k.startswith("violation.") and v != 0]
    return bad


def round_once(cp, workload, seed, trace, k):
    rd = os.path.join(BENCH, ".runs", f"{workload}-{os.getpid()}-{k}")
    shutil.rmtree(rd, ignore_errors=True)
    corpus, work, tmp = (os.path.join(rd, d) for d in ("corpus", "work", "tmp"))
    for d in (corpus, work, tmp):
        os.makedirs(d)
    result = os.path.join(rd, "result.json")
    try:
        c0, t0 = time.process_time(), time.time()
        tally = gen.generate(workload, seed, corpus)
        gen_cpu_s, gen_s = time.process_time() - c0, time.time() - t0
        with open(os.path.join(rd, "jvm.log"), "w") as log:
            r = subprocess.run(
                JVM + [f"-Djava.io.tmpdir={tmp}", "-cp", cp,
                       "medallionbench.MedallionBench", workload, corpus, work,
                       result, str(trace)],
                cwd=rd, stdout=log, stderr=subprocess.STDOUT, timeout=170)
        if r.returncode != 0:
            with open(os.path.join(rd, "jvm.log")) as f:
                tail = f.read()[-4000:]
            fail(f"{workload} round {k} failed (exit {r.returncode}):\n{tail}")
        with open(result) as f:
            res = json.load(f)
        # CPU seconds of set-up: the generator, then the JVM up to the first
        # layer call (JVM start, class loading, session start)
        res["setup_s"] = gen_cpu_s + res["jvm_setup_cpu_s"]
        res["setup_wall_s"] = gen_s + res["jvm_setup_s"]
        res["stored_bytes_per_input_byte"] = res["stored_bytes"] / (
            tally["corpus.bytes"] + tally.get("corpus.warehouse_bytes", 0))
        res["problems"] = check(res["observed"], tally)
        if trace:
            spans = os.path.join(BENCH, ".runs", f"spans-{workload}.jsonl")
            shutil.copy(os.path.join(work, "spans.jsonl"), spans)
            print_self_times(spans)
        return res
    finally:
        shutil.rmtree(rd, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description="medallion pipeline benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(gen.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    cp = build()
    start = time.monotonic()
    rounds = []
    while True:
        res = round_once(cp, a.workload, a.seed, a.trace, len(rounds))
        rounds.append(res)
        print(f"medallion_bench: round {len(rounds)}: run_cpu_s {res['run_cpu_s']:.3f}"
              f" (wall {res['run_s']:.3f}) setup_s {res['setup_s']:.3f}"
              f" (wall {res['setup_wall_s']:.3f}) check_s {res['check_s']:.3f}",
              file=sys.stderr)
        if res["problems"]:
            print("medallion_bench: CHECK FAILED\n  " +
                  "\n  ".join(res["problems"]), file=sys.stderr)
            break
        elapsed = time.monotonic() - start
        if elapsed * (len(rounds) + 1) / len(rounds) > a.seconds:
            break
    correct = not any(r["problems"] for r in rounds)
    med = lambda k: statistics.median(r[k] for r in rounds)  # noqa: E731
    if a.trace:
        metrics = {n: {"value": statistics.median(r["layers"][n] for r in rounds),
                       "unit": u} for n, u in PER_LAYER.items()}
    else:
        metrics = {n: {"value": med(n), "unit": u} for n, u in END_TO_END.items()}
    print(json.dumps({"correct": correct,
                      "attempted": sum(r["operations"] for r in rounds),
                      "failed": 0, "metrics": metrics}))
    if not correct:
        sys.exit(1)


def print_self_times(path):
    """Each span name's total and self time (its duration minus what its
    child spans cover), on stderr."""
    with open(path) as f:
        spans = [json.loads(line) for line in f]
    total, self_ms = {}, {}
    for s in spans:
        d = s["end_ms"] - s["start_ms"]
        kids = sum(c["end_ms"] - c["start_ms"] for c in spans
                   if c["parent"] == s["id"])
        total[s["name"]] = total.get(s["name"], 0) + d
        self_ms[s["name"]] = self_ms.get(s["name"], 0) + d - kids
    for n in total:
        print(f"medallion_bench: span {n}: {total[n] / 1000:.3f} s, "
              f"self {self_ms[n] / 1000:.3f} s", file=sys.stderr)


if __name__ == "__main__":
    main()
