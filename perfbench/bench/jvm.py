"""Building the harness (and with it the program) from source with sbt,
and launching the harness JVM."""
import hashlib
import os
import signal
import subprocess

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")

# What spark-submit would pass on JDK 17 (JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def program_present():
    return (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala")))


def _source_stamp():
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for dirpath, dirnames, files in os.walk(base):
            dirnames.sort()
            for f in sorted(files):
                p = os.path.join(dirpath, f)
                h.update(p[len(ROOT):].encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    for f in (os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")):
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData",
                f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def classpath(log):
    """Build when the sources changed since the last build; return the
    harness classpath."""
    os.makedirs(BUILD, exist_ok=True)
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    stamp = _source_stamp()
    if (os.path.exists(stamp_file) and os.path.exists(cp_file)
            and open(stamp_file).read() == stamp):
        return open(cp_file).read().strip()
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    out = os.path.join(BUILD, "sbt.out")
    with open(log, "a") as err, open(out, "w") as fh:
        code = _run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                     "export perfbench/Runtime/fullClasspath"],
                    fh, err, 840, env=_sbt_env())
    lines = [l for l in open(out).read().splitlines() if l.strip()]
    if code != 0 or not lines:
        raise RuntimeError(f"sbt build failed (exit {code}), see {log}")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp


def _run(cmd, stdout, stderr, timeout, env=None):
    """Run `cmd` in its own process group; kill the group on overrun."""
    proc = subprocess.Popen(cmd, cwd=HERE, env=env, stdout=stdout,
                            stderr=stderr, stdin=subprocess.DEVNULL,
                            start_new_session=True)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise RuntimeError(f"{cmd[0]} overran {timeout} s")


def run_harness(cp, args, log, timeout, heap="3g"):
    """Run the harness JVM; return its exit code."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # native-library extraction and Spark's artifact directory go to
    # java.io.tmpdir: keep them inside the checkout
    cmd = ["java", f"-Xms{heap}", f"-Xmx{heap}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Harness"] + args
    with open(log, "a") as fh:
        return _run(cmd, fh, fh, timeout)


def current_stamp():
    with open(os.path.join(BUILD, "stamp")) as fh:
        return fh.read()
