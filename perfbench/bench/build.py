"""Builds the harness (and graft, one directory up) with sbt, and launches it."""
import hashlib
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")

# Spark 4 on JDK 17 outside spark-submit needs these (as in the root build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class BuildError(Exception):
    pass


def sources_stamp():
    """Hash of every input to the build: sources and build definitions."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in fs if f.endswith((".scala", ".sbt", ".properties"))]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def check_tree():
    """The benchmark builds graft from the checkout it sits in."""
    need = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "src", "main", "scala", "graft")]
    missing = [p for p in need if not os.path.exists(p)]
    if missing:
        raise BuildError("graft sources not found next to the benchmark: "
                         + ", ".join(os.path.relpath(p, ROOT) for p in missing))


def ensure_built(timeout):
    """Returns the harness classpath, building first when sources changed."""
    check_tree()
    stamp = sources_stamp()
    cp_file, stamp_file = os.path.join(BUILD, "classpath.txt"), os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "writeClasspath"]
    print("[perfbench] building harness and graft with sbt ...", file=sys.stderr, flush=True)
    proc = subprocess.Popen(cmd, cwd=HERE, stdout=sys.stderr, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL, start_new_session=True)
    rc = wait_or_kill(proc, timeout)
    if rc != 0 or not os.path.exists(cp_file):
        raise BuildError(f"sbt build failed (exit {rc})")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    with open(cp_file) as g:
        return g.read().strip()


def wait_or_kill(proc, timeout):
    """Waits for `proc`; past `timeout` seconds kills its process group and
    waits for it to end. Returns the exit code (None when killed)."""
    try:
        return proc.wait(timeout=max(1.0, timeout))
    except subprocess.TimeoutExpired:
        import signal
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
        return None


def java_command(classpath, heap, main_args, tmpdir):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", f"-Xms{heap}", f"-Xmx{heap}", "-Duser.timezone=UTC",
             f"-Djava.io.tmpdir={tmpdir}", "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC"]
            + opens + ["-cp", classpath, "perfbench.Main"] + main_args)
