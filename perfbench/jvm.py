"""Start the benchmark's JVM process and collect what it wrote.

The process is `graftbench.Main <mode> <settings>`, run on the classes
`build.py` produced plus Spark's jars. It writes JSON lines to the
settings' `out` file; `run` returns them parsed, together with the
process's CPU times from `wait4` (the process sys share of the regime
stamp).
"""
import json
import os
import shutil
import signal
import subprocess
import time

import build

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]
# The heap is committed and touched at start (AlwaysPreTouch), inside
# set-up: this machine maps memory lazily, and first-touch page faults
# would otherwise land in whichever timed window first reaches new heap.
HEAP = "2g"


class RunError(Exception):
    pass


def data_dir(root, scale):
    """Assemble a suite data directory under .bench_build: the committed
    tables plus the flight fixture as `gold.parquet`, which the flight
    queries read from the data directory.
    """
    src = os.path.join(root, "perfbench", "data", scale)
    fixture = os.path.join(root, "src", "test", "resources", "flight_gold_fixture.parquet")
    if not os.path.isdir(src) or not os.path.isfile(fixture):
        raise RunError(f"missing suite data {src} or flight fixture {fixture}")
    dst = os.path.join(root, build.BUILD_DIR, "data", scale)
    if not os.path.isdir(dst):
        tmp = dst + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.copytree(src, tmp)
        shutil.copyfile(fixture, os.path.join(tmp, "gold.parquet"))
        os.rename(tmp, dst)
    return os.path.abspath(dst)


def run(root, mode, settings, timeout_s):
    """Run one JVM process; return (records, cpu) where cpu holds the
    process's user and system seconds.
    """
    classes = os.path.abspath(build.build(root))
    work = os.path.abspath(os.path.join(root, build.BUILD_DIR, "tmp"))
    os.makedirs(work, exist_ok=True)
    out = os.path.join(work, f"{mode}-{os.getpid()}.jsonl")
    props = os.path.join(work, f"{mode}-{os.getpid()}.properties")
    settings = dict(settings, out=out)
    with open(props, "w") as f:
        for k, v in settings.items():
            f.write(f"{k}={str(v).replace(chr(92), chr(92) * 2)}\n")
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work}",
            f"-Dspark.local.dir={work}",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            f"-Dderby.system.home={work}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"),
            "graftbench.Main", mode, props]
    log = os.path.join(work, f"{mode}-{os.getpid()}.log")
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, stdout=err, stderr=subprocess.STDOUT, cwd=work,
                                start_new_session=True)
        deadline = time.monotonic() + timeout_s
        status = None
        while status is None:
            pid, st, usage = os.wait4(proc.pid, os.WNOHANG)
            if pid:
                status = os.waitstatus_to_exitcode(st)
                break
            if time.monotonic() > deadline:
                os.killpg(proc.pid, signal.SIGKILL)
                os.wait4(proc.pid, 0)
                raise RunError(f"{mode} process exceeded {timeout_s} s; log {log}")
            time.sleep(0.05)
        proc.returncode = status
    if status != 0 or not os.path.exists(out):
        with open(log) as f:
            tail = f.read()[-3000:]
        raise RunError(f"{mode} process failed with status {status}:\n{tail}")
    with open(out) as f:
        records = [json.loads(line) for line in f if line.strip()]
    for p in (out, props, log):
        os.remove(p)
    return records, {"user_s": usage.ru_utime, "sys_s": usage.ru_stime}
