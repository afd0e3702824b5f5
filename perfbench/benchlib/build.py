"""Builds the harness (and the engine sources it compiles) with sbt, and
launches it as a plain JVM with resources pinned."""
import hashlib
import os
import signal
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH_DIR)

# Spark 4 on JDK 17 outside spark-submit needs these (as in the root build).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def _sources():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH_DIR, "src", "main")]
    files = [os.path.join(BENCH_DIR, "build.sbt")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def source_stamp():
    """Content hash of every file the build compiles."""
    h = hashlib.sha256()
    for f in _sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath(log):
    """Compiles once per source state and returns the runtime classpath."""
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft",
                                       "SparkEntry.scala")):
        raise SystemExit("perfbench: no graft sources next to the benchmark "
                         f"({ROOT}/src/main/scala); run it from a repo checkout")
    cache = os.path.join(BENCH_DIR, "target", "perfbench-classpath.txt")
    stamp = source_stamp()
    if os.path.isfile(cache):
        with open(cache) as f:
            old_stamp, cp = f.read().split("\n", 1)
        if old_stamp == stamp:
            return cp.strip()
    tmp = os.path.join(BENCH_DIR, "target", "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(os.path.dirname(log), exist_ok=True)
    with open(log, "w") as out:
        p = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", f"-Djava.io.tmpdir={tmp}",
             "-J-XX:-UsePerfData", "compile", "export Runtime/fullClasspath"],
            cwd=BENCH_DIR, stdout=subprocess.PIPE, stderr=out, text=True,
            stdin=subprocess.DEVNULL, timeout=840)
        out.write(p.stdout)
    lines = [l for l in p.stdout.splitlines()
             if ":" in l and "scala-2.13" in l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit(f"perfbench: build failed (exit {p.returncode}), see {log}")
    cp = lines[-1].strip()
    os.makedirs(os.path.dirname(cache), exist_ok=True)
    with open(cache, "w") as f:
        f.write(stamp + "\n" + cp)
    return cp


def driver_mem():
    """Explicit driver heap: half the machine's memory, clamped to 2..8 GB,
    as the repository's tier-1 test command sizes it."""
    gb = 2
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    gb = int(line.split()[1]) // (2 * 1024 * 1024)
    except OSError:
        pass
    return f"{max(2, min(8, gb))}g"


def run_harness(cp, workdir, args, timeout, log):
    """Runs graftbench.Harness in `workdir` (its relative writes land there)
    and waits for it, killing the whole process group on timeout."""
    cpus = str(os.cpu_count() or 1)
    mem = driver_mem()
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": cpus,
        "SPARK_DRIVER_MEM": mem,
        "SPARK_LOCAL_DIRS": os.path.join(workdir, "spark-local"),
    })
    os.makedirs(env["SPARK_LOCAL_DIRS"], exist_ok=True)
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Xmx{mem}", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={tmp}",
            "-Dderby.system.home=" + tmp,
            "-cp", cp, "graftbench.Harness"] + args
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=workdir, env=env, stdout=out,
                             stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise SystemExit(f"perfbench: harness timed out after {timeout:.0f} s")
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    return rc, {"cores": int(cpus), "driver_mem": mem}
