#!/usr/bin/env python3
"""graft benchmark: run one workload for a seed and print its metrics.

    python3 perfbench/run.py --workload join-x10 --seed 1 --seconds 10 --trace 0

Run from the root of a graft source tree. The first run compiles graft's
sources and the harness in `perfbench/src` with the Scala compiler that
ships in Spark's jars directory (`$SPARK_HOME/jars`) into a jar under
`.bench_build/`, and has a short Spark session write a class-data archive
that later JVMs map to start faster; both are reused while the sources are
unchanged. Inputs are generated from the seed into `.bench_build/data/` and
checked against the DuckDB oracle once per seed. Every file a run writes
stays under `.bench_build/`.

A run is one JVM: five set-ups (setup_s is their median), one untimed
warm-up pass over the workload's ops, then timed passes for about
`--seconds` (at least one), each op's output checked after its timed
region.

The last line of stdout is one JSON object: `correct`, `attempted`,
`failed` and `metrics` (end-to-end metrics untraced, per-layer metrics with
`--trace 1`). A human-readable summary goes to stderr.
"""

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import report  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")

# workload -> spark.sql.shuffle.partitions
WORKLOADS = {"join-x10": 8, "dedup": 8, "vector-store": 4, "event-stream": 4}
KEEP_SEEDS = 12  # generated input sets kept per workload


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def fail(msg):
    log(f"perfbench: {msg}")
    sys.exit(2)


# ---- build -------------------------------------------------------------------

def jars_dir():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    d = os.path.join(home or "", "jars")
    if not os.path.isdir(d):
        fail("no Spark jars directory (set SPARK_HOME)")
    return d


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        fail("no java on PATH")
    return exe


def sources():
    out = []
    for base in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith((".scala", ".java"))]
    return sorted(out)


def build():
    """Compile graft + harness once per source digest; return the classpath."""
    srcs = sources()
    if not any(s.startswith(os.path.join(ROOT, "src")) for s in srcs):
        fail("no graft sources under src/main/scala; run from a graft checkout")
    h = hashlib.sha256()
    for s in srcs:
        h.update(s[len(ROOT):].encode())
        with open(s, "rb") as f:
            h.update(f.read())
    key = h.hexdigest()[:16]
    jars = jars_dir()
    classes = os.path.join(BUILD, f"classes-{key}.jar")
    cp = f"{classes}:{jars}/*"
    if os.path.isfile(classes):
        return cp, key
    for old in os.listdir(BUILD) if os.path.isdir(BUILD) else []:
        if old.startswith(("classes-", "oracle-sql-", "cds-")):
            shutil.rmtree(os.path.join(BUILD, old), ignore_errors=True)
            if os.path.isfile(os.path.join(BUILD, old)):
                os.remove(os.path.join(BUILD, old))
    os.makedirs(BUILD, exist_ok=True)
    # a jar, not a directory: the class-data archive accepts only jars
    tmp = os.path.join(BUILD, f"classes-{key}.tmp.jar")
    compiler = ":".join(os.path.join(jars, j) for j in sorted(os.listdir(jars))
                        if j.startswith(("scala-compiler", "scala-library", "scala-reflect")))
    log(f"perfbench: compiling {len(srcs)} sources")
    t0 = time.time()
    proc = subprocess.run([java(), "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main",
                           "-nowarn", "-usejavacp:false", "-classpath", f"{jars}/*", "-d", tmp] + srcs,
                          stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        if os.path.exists(tmp):
            os.remove(tmp)
        log(proc.stdout[-4000:])
        fail("compile failed")
    os.rename(tmp, classes)
    log(f"perfbench: compiled in {time.time() - t0:.1f}s")
    # a class-data archive of Spark's classes shortens every JVM's start
    scratch = os.path.join(BUILD, "cds-scratch")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch)
    jvm(cp, ["mode=cds", f"scratch={scratch}"], os.path.join(scratch, "cds.log"), scratch,
        cds_archive(key), dump=True)
    shutil.rmtree(scratch)
    return cp, key


def cds_archive(key):
    return os.path.join(BUILD, f"cds-{key}.jsa")


def jvm(cp, args, log_path, scratch, cds=None, dump=False):
    """Run the harness in its own JVM; all of its temp files stay in scratch.
    With `cds`, the JVM maps that class-data archive if it exists, or with
    `dump` writes it at exit."""
    opens = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
        "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
        "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
    env = dict(os.environ, SPARK_GRAFT_STORE_DIR=os.path.join(scratch, "stores"),
               SPARK_LOCAL_DIRS=os.path.join(scratch, "spark-local"))
    for k in [k for k in env if k.startswith("SPARK_GRAFT_") and k != "SPARK_GRAFT_STORE_DIR"]:
        del env[k]  # engine knobs stay at their defaults
    cmd = [java(), "-XX:-UsePerfData", "-Xms2g", "-Xmx2g", f"-Djava.io.tmpdir={scratch}", "-Dspark.ui.enabled=false",
           "-Dderby.system.home=" + scratch] + opens
    if dump:
        cmd.append("-XX:ArchiveClassesAtExit=" + cds)
    elif cds and os.path.exists(cds):
        cmd.append("-XX:SharedArchiveFile=" + cds)
    cmd += ["-cp", cp, "graftbench.Main"] + args
    with open(log_path, "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, cwd=scratch, env=env)
        try:
            rc = proc.wait(timeout=170)
        except BaseException:
            proc.kill()
            proc.wait()
            raise
    if rc != 0:
        with open(log_path) as f:
            log(f.read()[-4000:])
        fail(f"harness exited with {rc}")


# ---- inputs ------------------------------------------------------------------

def generate(workload, seed, out_dir):
    """Write the workload's tables (and the stream row counts it expects)."""
    import gen
    os.makedirs(out_dir)
    if workload == "join-x10":
        gen.tpch(out_dir, seed, 1500, 10)
    elif workload == "dedup":
        gen.tpch(out_dir, seed, 1500, 1)
        gen.documents(out_dir, seed, 500)
        gen.embeddings(out_dir, seed, 500)
    elif workload == "vector-store":
        gen.embeddings(out_dir, seed, 500, 2)
    if workload in ("join-x10", "event-stream"):
        os.makedirs(os.path.join(out_dir, "events"))
        rows = gen.events(os.path.join(out_dir, "events"), seed, 10000, 2)
        with open(os.path.join(out_dir, "stream.json"), "w") as f:
            json.dump({k: [v, "0"] for k, v in rows.items()}, f)


def oracle(data_dir, sql_file):
    """Run each op's oracle SQL in DuckDB over the generated tables."""
    import duckdb
    with open(sql_file) as f:
        sqls = json.load(f)
    if not sqls:
        return
    odir = os.path.join(data_dir, "oracle")
    os.makedirs(odir)
    con = duckdb.connect()
    con.execute(f"SET threads TO {max(1, min(4, os.cpu_count() or 1))}")
    con.execute(f"SET temp_directory = '{os.path.join(data_dir, 'duckdb_tmp')}'")
    for t in os.listdir(data_dir):
        if t.endswith(".parquet"):
            con.execute(f"CREATE VIEW {t[:-8]} AS SELECT * FROM '{os.path.join(data_dir, t)}'")
    for op, sql in sqls.items():
        con.execute(f"COPY ({sql}) TO '{os.path.join(odir, op + '.parquet')}' (FORMAT PARQUET)")
    con.close()
    shutil.rmtree(os.path.join(data_dir, "duckdb_tmp"), ignore_errors=True)


def inputs(workload, seed, cp, key, scratch):
    """Generated inputs for (workload, seed), cached under .bench_build/data;
    returns (dir, seconds spent generating them)."""
    data_root = os.path.join(BUILD, "data")
    d = os.path.join(data_root, f"{workload}-seed{seed}")
    gen_s = 0.0
    if os.path.exists(os.path.join(d, "READY")):
        os.utime(d)
    else:
        shutil.rmtree(d, ignore_errors=True)
        t0 = time.time()
        generate(workload, seed, d)
        sql_file = os.path.join(BUILD, f"oracle-sql-{key}-{workload}.json")
        if not os.path.exists(sql_file):
            jvm(cp, ["mode=sql", f"workload={workload}", "out=" + sql_file],
                os.path.join(scratch, "sql.log"), scratch)
        oracle(d, sql_file)
        open(os.path.join(d, "READY"), "w").close()
        gen_s = time.time() - t0
    # keep the most recently used seeds only
    seeds = sorted((os.path.join(data_root, n) for n in os.listdir(data_root)
                    if n.startswith(workload + "-seed")), key=os.path.getmtime)
    for old in seeds[:-KEEP_SEEDS]:
        shutil.rmtree(old, ignore_errors=True)
    return d, gen_s


def input_bytes(d):
    return sum(os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(d)
               for f in fs if f.endswith(".parquet") and "oracle" not in r)


# ---- main --------------------------------------------------------------------

def main(argv=None):
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--corrupt-expectation", action="store_true",
                   help="self-test: perturb every expected digest")
    a = p.parse_args(argv)
    cp, key = build()
    cpus = max(1, min(4, len(os.sched_getaffinity(0))))
    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-seed{a.seed}-trace{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    scratch = os.path.join(run_dir, "scratch")
    os.makedirs(scratch)
    data, gen_s = inputs(a.workload, a.seed, cp, key, scratch)
    raw_path = os.path.join(run_dir, "raw.json")
    args = ["mode=run", f"workload={a.workload}", f"data={data}",
            f"seed={a.seed}", f"seconds={a.seconds}", f"trace={a.trace}", f"cpus={cpus}",
            f"partitions={WORKLOADS[a.workload]}", f"scratch={scratch}", f"out={raw_path}"]
    if a.corrupt_expectation:
        args.append("corrupt=1")
    t0 = time.time()
    jvm(cp, args, os.path.join(run_dir, "harness.log"), scratch, cds_archive(key))
    log(f"perfbench: gen_s {gen_s:.1f}, harness {time.time() - t0:.1f}s")
    with open(raw_path) as f:
        raw = json.load(f)
    res = report.summarize(raw, trace=bool(a.trace), gen_s=gen_s,
                           input_bytes=input_bytes(data))
    if a.trace:
        with open(os.path.join(run_dir, "spans.json"), "w") as f:
            json.dump(raw["spans"], f)
        res["notes"].append(f"span file: {os.path.relpath(os.path.join(run_dir, 'spans.json'), ROOT)}")
    shutil.rmtree(scratch, ignore_errors=True)
    for line in res["notes"]:
        log(line)
    print(json.dumps(res["result"]))


if __name__ == "__main__":
    main()
