#!/usr/bin/env python3
"""Run one benchmark workload against the engine built from this checkout.

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 24 --trace 0

Steps: build the engine and the harness from source with sbt (cached under
``.bench_build`` by a hash of the sources), generate the files that depend
on ``--seed`` (the catalog is the committed sf0.1 test data under
``perfbench/data``), compute DuckDB's answers for every statement, then run
the workload in one JVM: one set-up with an untimed warm-up pass, timed
from JVM start, then ``round(--seconds / pass_s)`` measured passes over the
workload's statements in listed order (``pass_s`` in ``workloads.json``).
The last line of standard output is the result:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

with the end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``). The full artifact (statements, failures, spans) is written
to ``.bench_build/results/``. ``--sf 0.001`` runs the small smoke scale.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

JVM_LIMIT_S = 170
ORACLE_LIMIT_S = 60

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_key():
    """Hash of everything the build compiles."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for d in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        files += sorted(glob.glob(os.path.join(d, "**", "*"), recursive=True))
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def build():
    """Compile engine + harness; return the runtime classpath."""
    key = source_key()
    cp_file = os.path.join(BUILD, f"classpath-{key}.txt")
    if os.path.exists(cp_file):
        return key, open(cp_file).read().strip()
    log("building engine and harness with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=800)
    lines = [l for l in p.stdout.splitlines() if l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    return key, lines[-1]


def java_cmd(classpath, tmp, *args):
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", "-Xmx4g", "-XX:+UseG1GC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
             f"-Dspark.local.dir={tmp}", "-Dspark.ui.enabled=false",
             "-Dderby.system.home=" + tmp] + opens +
            ["-cp", classpath, "perfbench.Main"] + list(args))


def catalog(key, classpath):
    """The engine's oracle SQL and operator names."""
    path = os.path.join(BUILD, f"catalog-{key}.json")
    if not os.path.exists(path):
        tmp = os.path.join(BUILD, "tmp")
        os.makedirs(tmp, exist_ok=True)
        subprocess.run(java_cmd(classpath, tmp, "catalog", path + ".tmp"),
                       check=True, stdout=subprocess.DEVNULL, timeout=120)
        os.replace(path + ".tmp", path)
    with open(path) as f:
        return json.load(f)


def data_key():
    with open(os.path.join(HERE, "gen_data.py"), "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:12]


def ensure_seeded(sf, seed, workload, w, base):
    import gen_data
    d = os.path.join(BUILD, "data", f"seed-sf{sf}-{seed}-{workload}-{data_key()}")
    if not os.path.exists(os.path.join(d, ".done")):
        shutil.rmtree(d, ignore_errors=True)
        gen_data.seeded_inputs(d, seed, base, "sql" in w, "loads" in w, sf)
        open(os.path.join(d, ".done"), "w").close()
    return d


def answer_items(spec, workload, cat):
    """(id, DuckDB SQL, depends-on-seed) for every answer the workload checks.
    Statements over the catalog alone do not depend on the seed."""
    w = spec[workload]
    oracle = cat["oracle"]
    items = [(n, oracle[n], False) for n in w.get("oracle", []) + w.get("operators", [])]
    items += [(i, q, True) for i, q in w.get("sql", {}).items()]
    items += [(i, q, False) for i, q in w.get("results", {}).items()]
    for i, step in w.get("loads", {}).items():
        if step["format"] == "copy":
            items.append((i, step["duck_count"], True))
        items.append((f"{i}~read", step["duck"], True))
    return items


def host_cpu():
    """(steal, total) jiffies of all CPUs so far, from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7], sum(v[:8])
    except (OSError, ValueError, IndexError):
        return 0, 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--sf", type=float, default=0.1, choices=[0.1, 0.001])
    a = ap.parse_args()

    with open(os.path.join(HERE, "workloads.json")) as f:
        spec = json.load(f)
    if a.workload not in spec:
        fail(f"unknown workload {a.workload}")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")) or \
            not os.path.exists(os.path.join(ROOT, "build.sbt")):
        fail(f"engine sources not found under {ROOT}")

    t_start = time.time()
    os.makedirs(BUILD, exist_ok=True)
    key, classpath = build()
    cat = catalog(key, classpath)
    base = os.path.join(HERE, "data", f"sf{a.sf:g}")
    seeded = ensure_seeded(a.sf, a.seed, a.workload, spec[a.workload], base)

    import oracle
    items = answer_items(spec, a.workload, cat)
    base_answers = os.path.join(BUILD, "answers", f"sf{a.sf:g}")
    seed_answers = os.path.join(seeded, "answers")
    arrows = [(os.path.basename(p).replace(".", "_"), p)
              for p in glob.glob(os.path.join(seeded, "*.arrows"))]
    missing = oracle.write_answers([(i, q) for i, q, s in items if not s], base_answers, base,
                                   [base], timeout_s=ORACLE_LIMIT_S)
    missing += oracle.write_answers([(i, q) for i, q, s in items if s], seed_answers, base,
                                    [seeded, base], arrows, timeout_s=ORACLE_LIMIT_S)
    if missing:
        log(f"DuckDB gave no answer within {ORACLE_LIMIT_S} s for: {', '.join(missing)}")

    tmp = os.path.join(BUILD, "tmp", str(os.getpid()))
    os.makedirs(tmp, exist_ok=True)

    # names to register: catalog tables, seeded inputs, COPY targets
    files = [(os.path.basename(p), p) for p in sorted(glob.glob(os.path.join(base, "*.parquet")))]
    files += [(n, os.path.join(seeded, n)) for n in sorted(os.listdir(seeded))
              if os.path.isfile(os.path.join(seeded, n)) and not n.startswith(".")]
    files += [(t, os.path.join(tmp, t)) for t in spec[a.workload].get("outputs", [])]

    results = os.path.join(BUILD, "results")
    os.makedirs(results, exist_ok=True)
    config = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": bool(a.trace), "base": base, "files": files,
        "answers": [seed_answers, base_answers],
        "out": os.path.join(results, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"),
        "spec": os.path.join(HERE, "workloads.json"),
    }
    config_path = os.path.join(tmp, "config.json")
    with open(config_path, "w") as f:
        json.dump(config, f)

    log_path = os.path.join(BUILD, "logs", f"{a.workload}-seed{a.seed}-trace{a.trace}.log")
    os.makedirs(os.path.dirname(log_path), exist_ok=True)
    t0 = time.time()
    log(f"inputs and answers ready in {t0 - t_start:.1f} s")
    cpu0 = host_cpu()
    with open(log_path, "w") as errf:
        proc = subprocess.Popen(java_cmd(classpath, tmp, "run", config_path),
                                stdout=subprocess.PIPE, stderr=errf, text=True)
        try:
            out, _ = proc.communicate(timeout=JVM_LIMIT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"workload did not finish in {JVM_LIMIT_S} s (log: {log_path})")
    shutil.rmtree(tmp, ignore_errors=True)
    # the seeded inputs are remade in seconds; kept, a bulk run leaves 50 MB
    shutil.rmtree(seeded, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.startswith('{"correct"')]
    if proc.returncode != 0 or not lines:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"workload run failed (exit {proc.returncode}, log: {log_path})")
    cpu1 = host_cpu()
    steal = (cpu1[0] - cpu0[0]) / max(1, cpu1[1] - cpu0[1])
    log(f"{a.workload} ran in {time.time() - t0:.1f} s (host steal {100 * steal:.1f}% of CPU time)")
    print(json.dumps(json.loads(lines[-1])))


if __name__ == "__main__":
    main()
