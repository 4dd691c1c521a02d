"""Launching the harness JVM and the fixed inputs it reads."""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.join(HERE, "harness"))
import build  # noqa: E402

# Spark 4 on JDK 17 outside spark-submit needs these (as in build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]
HEAP = "4g"


def cores():
    return len(os.sched_getaffinity(0))


def tables():
    """The benchmark tables: a fixed copy of graft's sf0.1 test tables."""
    return os.path.join(HERE, "data", "sf0.1")


def run(classpath, work, args, timeout):
    """Run the harness with `args` (a dict of --key value); return its
    event records. Raises on a non-zero exit."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    events = os.path.join(work, "events.jsonl")
    log = os.path.join(work, "spark.log")
    cmd = ["java", f"-Xmx{HEAP}", "-XX:+UseParallelGC",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           f"-Dgraftbench.log={log}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Dspark.local.dir={os.path.join(work, 'tmp')}",
           f"-Dspark.hadoop.hadoop.tmp.dir={os.path.join(work, 'tmp')}",
           f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "org.apache.spark.sql.graftbench.Main",
            "--events", events, "--log", log, "--work", work, "--cores", str(cores())]
    for k, v in args.items():
        cmd += ["--" + k, str(v)]
    with open(os.path.join(work, "jvm.out"), "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, cwd=work,
                             env=dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "tmp")))
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise RuntimeError(f"harness timed out after {timeout}s")
    if rc != 0:
        with open(os.path.join(work, "jvm.out")) as f:
            tail = f.read()[-3000:]
        raise RuntimeError(f"harness exited {rc}:\n{tail}")
    with open(events) as f:
        return [json.loads(line) for line in f if line.strip()]
