#!/usr/bin/env python3
"""Benchmark of the graft engine: the classic OSM import and the
oracle-query registry, measured end to end, and per layer in a traced run
that also covers the append and flex paths.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: osm-import, oracle-queries.

What a run does:

1. Builds the engine and the harness (`perfbench/build.sbt` compiles
   `src/main/scala` together with `perfbench/src`) into `perfbench/target`,
   unless the sources are unchanged since the last build.
2. For osm-import, starts a throwaway PostgreSQL cluster under
   `.bench_build/pg` (unix socket in `.bench_build/pg/s`, hstore, no
   PostGIS, fsync off), inside a user namespace so the server does not run
   as root.
3. Runs the harness (`perfbench.Bench`) in one JVM on local[nproc]. It
   generates the seeded inputs, sets up, measures for --seconds, checks the
   outputs and prints one JSON line. Times are CPU seconds of the JVM and
   the PostgreSQL server (the postmaster's pid is passed to the harness).
4. Stops the cluster, writes the output digests of the run to
   `.bench_build/digests/<workload>-<seed>.json` (the source for
   `perfbench/pinned.json`) and prints `{"correct", "attempted", "failed",
   "metrics"}` as the last line of stdout.

--trace 0 prints the end-to-end metrics, --trace 1 the per-layer metrics
(see perfbench/METRICS.md). Everything a run writes goes under
`.bench_build/` in the checkout. Exits non-zero, without a result line, when
the engine sources are missing, the checkout path is too long for the
PostgreSQL socket, or the build or the run fails.
"""
import argparse
import glob
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
WORK = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
WORKLOADS = ("osm-import", "oracle-queries")
NEEDS_PG = ("osm-import",)
SBT_OPTS = ("-Dsbt.override.build.repos=true "
            "-Dsbt.repository.config={home}/.sbt/repositories "
            "-Dsbt.offline=true -Xmx3g")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]
# the PostgreSQL settings of every run, as recorded in BENCHMARK.json
PG_SETTINGS = ["-c", "fsync=off", "-c", "synchronous_commit=off",
               "-c", "full_page_writes=off", "-c", "max_connections=40",
               "-c", "shared_buffers=128MB"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=1):
    log(msg)
    sys.exit(code)


def source_files():
    pats = [os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
            os.path.join(HERE, "src", "**", "*.scala")]
    files = sorted(f for p in pats for f in glob.glob(p, recursive=True))
    return files + [os.path.join(HERE, "build.sbt"),
                    os.path.join(HERE, "project", "build.properties")]


def build():
    """Compile engine + harness unless the sources are unchanged."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources (src/main/scala/graft) not found: run from the "
             "root of a checkout", 2)
    h = hashlib.sha256()
    for f in source_files():
        h.update(f[len(ROOT):].encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp_file = os.path.join(WORK, "build.stamp")
    stamp = h.hexdigest()
    if os.path.isdir(CLASSES) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                return
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home(),
               SBT_OPTS=SBT_OPTS.format(home=os.path.expanduser("~")))
    log("building engine + harness (sbt compile)")
    t0 = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       stdin=subprocess.DEVNULL, timeout=840)
    if r.returncode != 0:
        fail("build failed", 3)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    log(f"built in {time.time() - t0:.0f}s")


class Postgres:
    """A throwaway cluster on a unix socket in the checkout, listening on
    no TCP address.

    The server refuses to run as root, so under root it runs in a user
    namespace that maps the caller to an unprivileged id; files stay owned
    by the caller, so the data directory can live anywhere the caller can
    write."""

    def __init__(self):
        self.base = os.path.join(WORK, "pg")
        self.data = os.path.join(self.base, "data")
        self.sock = os.path.join(self.base, "s")
        self.proc = None
        self.prefix = []
        if os.geteuid() == 0:
            self.prefix = ["unshare", "--user", "--map-user=1000",
                           "--map-group=1000"]
        # a unix socket path is limited to 107 bytes
        if len(os.path.join(self.sock, ".s.PGSQL.5432").encode()) > 107:
            fail(f"checkout path too long for a unix socket: {self.sock}", 2)
        self.dsn = f"host={self.sock} port=5432 dbname=postgres user=bench"

    def start(self):
        if not os.path.exists(os.path.join(self.data, "PG_VERSION")):
            shutil.rmtree(self.base, ignore_errors=True)
            os.makedirs(self.base)
            r = subprocess.run(self.prefix + [
                "initdb", "-D", self.data, "-U", "bench", "-A", "trust",
                "-E", "UTF8", "--no-locale", "-N"],
                stdout=sys.stderr, stderr=sys.stderr, stdin=subprocess.DEVNULL)
            if r.returncode != 0:
                fail("initdb failed")
        os.makedirs(self.sock, exist_ok=True)
        stale = os.path.join(self.data, "postmaster.pid")
        if os.path.exists(stale):
            os.remove(stale)
        logf = open(os.path.join(self.base, "server.log"), "ab")
        self.proc = subprocess.Popen(self.prefix + [
            "postgres", "-D", self.data, "-k", self.sock, "-p", "5432",
            "-c", "listen_addresses="] + PG_SETTINGS,
            stdout=logf, stderr=logf, stdin=subprocess.DEVNULL)
        logf.close()
        for _ in range(300):
            r = subprocess.run(["psql", "-X", "-qAt", "-c", "SELECT 1",
                                self.dsn], capture_output=True)
            if r.returncode == 0:
                return
            if self.proc.poll() is not None:
                fail("postgres exited during start-up; see "
                     ".bench_build/pg/server.log")
            time.sleep(0.1)
        fail("postgres did not accept connections within 30s")

    def stop(self):
        if self.proc is None or self.proc.poll() is not None:
            return
        self.proc.send_signal(signal.SIGINT)  # fast shutdown
        try:
            self.proc.wait(timeout=20)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()


def spark_home():
    """SPARK_HOME, or the installation that spark-submit on PATH is from."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation: set SPARK_HOME", 2)
    return home


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def heap():
    """Driver heap: a quarter of memory, between 2 and 6 GiB."""
    try:
        with open("/proc/meminfo") as fh:
            kb = int(next(l for l in fh if l.startswith("MemTotal:")).split()[1])
        gb = max(2, min(6, kb // (4 * 1024 * 1024)))
    except (OSError, StopIteration, ValueError):
        gb = 2
    return f"{gb}g"


def run_harness(args, dsn, pg_pid):
    work = os.path.join(WORK, "run")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    spark_jars = os.path.join(spark_home(), "jars", "*")
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = (["java"] + opens + [
        f"-Xmx{heap()}", f"-Djava.io.tmpdir={tmp}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", CLASSES + os.pathsep + spark_jars, "perfbench.Bench",
        args.workload, str(args.seed), str(args.seconds), str(args.trace),
        work, dsn or "-", str(cores()),
        os.path.join(HERE, "data", "sf0.01"),
        os.path.join(HERE, "pinned.json"), str(pg_pid or "-")])
    env = dict(os.environ, TMPDIR=tmp)
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                            stderr=sys.stderr, stdin=subprocess.DEVNULL,
                            text=True)
    try:
        out, _ = proc.communicate(timeout=165)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        fail("harness timed out")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0:
        fail(f"harness exited with {proc.returncode}")
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if not lines:
        fail("harness printed no result")
    return json.loads(lines[-1])


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    os.makedirs(WORK, exist_ok=True)
    build()
    pg = Postgres() if args.workload in NEEDS_PG else None
    try:
        if pg:
            pg.start()
        res = run_harness(args, pg.dsn if pg else None,
                          pg.proc.pid if pg else None)
    finally:
        if pg:
            pg.stop()
    digests = os.path.join(WORK, "digests")
    os.makedirs(digests, exist_ok=True)
    with open(os.path.join(digests, f"{args.workload}-{args.seed}.json"),
              "w") as fh:
        json.dump(res.get("digests", {}), fh, indent=1, sort_keys=True)
    print(json.dumps({k: res[k] for k in
                      ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
