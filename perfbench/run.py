#!/usr/bin/env python3
"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and
the benchmark from the checkout's sources (sbt, offline) into the build
directory (`$CARGO_TARGET_DIR`, default `.bench_build`); later runs reuse
that build while the sources are unchanged. The run itself is one JVM
(`perfbench.Main`) started with the engine's own JVM options from
`build.sbt`, except that every scratch file stays inside the checkout.

The last stdout line is `{"correct", "attempted", "failed", "metrics"}`:
the end-to-end metrics with `--trace 0`, the per-layer metrics with
`--trace 1`. Exit code 0 only when a result was printed.
"""

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("bunnyhop_publish", "jurisdiction_lookup", "corpus_curation", "event_stream")


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "src", "main"), HERE):
        for d, dirs, files in sorted(os.walk(top)):
            dirs[:] = sorted(x for x in dirs if x != "target")
            for f in sorted(files):
                if f.endswith((".scala", ".sbt", ".properties")) or "resources" in d:
                    p = os.path.join(d, f)
                    h.update(p[len(ROOT):].encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()


def spark_jars():
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else the one
    next to the first spark-submit on PATH that has one."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.exists(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return os.path.join(home, "jars")
    die("no Spark distribution found: set SPARK_HOME")


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g",
            f"-Dperfbench.sparkJars={spark_jars()}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build(build_dir):
    """Compile engine + benchmark; return the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        die("no engine sources under src/main/scala: run from the root of a checkout")
    stamp = source_stamp()
    cp_file = os.path.join(build_dir, "classpath.txt")
    stamp_file = os.path.join(build_dir, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(cp_file) as fh:
                    return fh.read().strip()
    os.makedirs(build_dir, exist_ok=True)
    log = os.path.join(build_dir, "build.log")
    with open(log, "w") as fh:
        rc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=sbt_env(), stdout=fh, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
            timeout=840).returncode
    with open(log) as fh:
        lines = fh.read().splitlines()
    cps = [l.strip() for l in lines if ".jar" in l and ":" in l and not l.startswith("[")]
    if rc != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        die(f"build failed (exit {rc}); log in {log}")
    with open(cp_file, "w") as fh:
        fh.write(cps[-1])
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cps[-1]


def jvm_options(tmp):
    """build.sbt's javaOptions, with the scratch directory moved into the checkout."""
    opens = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    opts = []
    for p in opens:
        opts += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return opts + [
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
        # build.sbt takes the heap from SPARK_DRIVER_MEM; pinned here so every
        # run of the benchmark measures the same JVM
        "-Xmx4g",
        "-XX:ReservedCodeCacheSize=2g", "-XX:+AlwaysPreTouch",
        # no hsperfdata file under the system temp directory
        "-XX:-UsePerfData",
    ]


def parquet_glob(path):
    return os.path.join(path, "*.parquet")


def duckdb_twin(out):
    """The corpus_curation DuckDB twin: exact dedup, quality rules and
    shard assignment recomputed independently from the run's inputs."""
    import duckdb
    d = os.path.join(out, "curation")
    con = duckdb.connect()
    con.execute(f"CREATE VIEW corpus AS SELECT * FROM read_parquet('{parquet_glob(os.path.join(d, 'corpus.parquet'))}')")
    problems = []

    def ids(name):
        return {r[0] for r in con.execute(
            f"SELECT doc_id FROM read_parquet('{parquet_glob(os.path.join(d, name))}')").fetchall()}

    want = {r[0] for r in con.execute(
        "SELECT min(doc_id) FROM corpus GROUP BY md5(lower(trim(text)))").fetchall()}
    if ids("check_exact.parquet") != want:
        problems.append("exact dedup differs from the DuckDB twin")
    q_in = ids("check_quality_in.parquet")
    con.execute("CREATE TABLE q_in(doc_id BIGINT)")
    con.executemany("INSERT INTO q_in VALUES (?)", [(i,) for i in sorted(q_in)])
    keep = {r[0] for r in con.execute("""
        WITH w AS (SELECT doc_id, text, regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
                   FROM corpus WHERE doc_id IN (SELECT doc_id FROM q_in)),
        m AS (SELECT doc_id, len(toks) AS nw,
                CAST(len(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE) / len(toks) AS mwl,
                CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE) / len(toks) AS alpha,
                len(list_intersect(toks, ['the','be','to','of','and','that','have','with'])) AS stops,
                CAST(len(text) - len(replace(text, '#', ''))
                     + (len(text) - len(replace(text, '...', ''))) // 3 AS DOUBLE) / len(toks) AS sym
              FROM w)
        SELECT doc_id FROM m
        WHERE nw BETWEEN 20 AND 200 AND mwl BETWEEN 3.0 AND 10.0 AND alpha >= 0.8
          AND stops >= 1 AND sym <= 0.1""").fetchall()}
    if ids("check_quality_out.parquet") != keep:
        problems.append("quality rules differ from the DuckDB twin")
    shards = con.execute(
        f"SELECT doc_id, pos, shard FROM read_parquet('{parquet_glob(os.path.join(d, 'check_shards.parquet'))}') "
        "ORDER BY pos").fetchall()
    twin = con.execute(f"""
        SELECT doc_id, CAST(row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR) || ':curate'), doc_id) - 1 AS BIGINT) AS pos,
               CAST((row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR) || ':curate'), doc_id) - 1) % 8 AS BIGINT) AS shard
        FROM read_parquet('{parquet_glob(os.path.join(d, 'check_shards.parquet'))}') ORDER BY pos""").fetchall()
    if shards != twin:
        problems.append("shard assignment differs from the DuckDB twin")
    return problems


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    cp = build(build_dir)
    t_start = time.time()
    out = os.path.join(build_dir, "runs", f"{a.workload}-{a.seed}-{a.trace}")
    shutil.rmtree(out, ignore_errors=True)
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp)
    cmd = ["java"] + jvm_options(tmp) + [
        f"-Dperfbench.t0ms={int(t_start * 1000)}", "-cp", cp, "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--out", out]
    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    env.pop("SPARK_LOCAL_DIRS", None)
    result = None
    with open(os.path.join(out, "stderr.log"), "w") as err:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=err,
                                stdin=subprocess.DEVNULL, text=True)
        # a run must end within 180 s of its start: kill a JVM that hangs
        watchdog = threading.Timer(170 - (time.time() - t_start), proc.kill)
        watchdog.start()
        try:
            for line in proc.stdout:
                if line.startswith("PERFBENCH_RESULT "):
                    result = json.loads(line[len("PERFBENCH_RESULT "):])
                else:
                    sys.stdout.write(line)
            rc = proc.wait()
        finally:
            watchdog.cancel()
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0 or result is None:
        with open(os.path.join(out, "stderr.log")) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        die(f"benchmark JVM exited {rc} without a result")

    failed, attempted = result["failed"], result["attempted"]
    if a.workload == "corpus_curation":
        problems = duckdb_twin(out)
        for p in problems:
            print(f"note: {p}")
        if problems:
            failed = attempted
    if result.get("digest"):
        # the published attribute digest must be the same on every run of
        # one seed in this checkout
        seen_file = os.path.join(build_dir, "digests.json")
        seen = json.load(open(seen_file)) if os.path.exists(seen_file) else {}
        key = f"{a.workload}:{a.seed}"
        print(f"digest: {result['digest']}")
        if seen.setdefault(key, result["digest"]) != result["digest"]:
            print(f"note: published digest differs from an earlier run of seed {a.seed}: {seen[key]}")
            failed = attempted
        with open(seen_file, "w") as fh:
            json.dump(seen, fh, sort_keys=True)
    shutil.rmtree(tmp, ignore_errors=True)
    print(f"inputs: {json.dumps(result['inputs'], sort_keys=True)}")
    metrics = result["per_layer"] if a.trace else result["end_to_end"]
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
