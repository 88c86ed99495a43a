"""Launches the JVM harness and measures set-up time from outside it."""
import json
import os
import subprocess
import time

from . import build

HEAP = "3g"


def launch(classes, jars, spec, work_dir, log_path, timeout, until_ready=False):
    """Runs one harness process to completion, or with `until_ready`
    only until the engine is ready (then the process is killed).

    Returns (set-up seconds, ready record). Set-up runs from just before
    the process is spawned to the moment the harness reports the engine
    ready: JVM start and Engine.session.
    """
    os.makedirs(work_dir, exist_ok=True)
    spec = dict(spec, work_dir=work_dir, ready_file=os.path.join(work_dir, "ready.json"))
    spec_path = os.path.join(work_dir, "spec.json")
    with open(spec_path, "w") as fh:
        json.dump(spec, fh)
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xmx{HEAP}", "-XX:-UsePerfData"]
           + [f"--add-opens={p}=ALL-UNNAMED" for p in build.ADD_OPENS]
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
              f"-Dspark.sql.warehouse.dir={os.path.join(work_dir, 'warehouse')}",
              f"-Dderby.system.home={work_dir}",
              "-cp", build.classpath(classes, jars), "perfbench.Harness", spec_path])
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_") and k != "SPARK_LOCAL_DIRS"}
    with open(log_path, "ab") as log:
        t0 = time.time()
        proc = subprocess.Popen(cmd, cwd=work_dir, env=env, stdout=log, stderr=log,
                                stdin=subprocess.DEVNULL)
        try:
            if until_ready:
                while not os.path.exists(spec["ready_file"]) and proc.poll() is None:
                    if time.time() - t0 > timeout:
                        raise subprocess.TimeoutExpired(cmd, timeout)
                    time.sleep(0.01)
                if proc.poll() is None:
                    proc.kill()
                code = 0 if os.path.exists(spec["ready_file"]) else (proc.wait() or 1)
            else:
                code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            raise RuntimeError(f"harness timed out after {timeout:.0f} s (log: {log_path})")
        finally:
            if proc.poll() is None:
                proc.kill()
            proc.wait()
    if code != 0:
        raise RuntimeError(f"harness exited with {code} (log: {log_path})")
    with open(spec["ready_file"]) as fh:
        ready = json.load(fh)
    return ready["ready_ms"] / 1e3 - t0, ready
