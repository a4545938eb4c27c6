"""Builds graft and the harness from the checkout's sources (once per
source state) and assembles the JVM command that runs the harness."""
import hashlib
import os
import subprocess
import sys

SBT_FLAGS = ["--batch", "-Dsbt.log.noformat=true"]
# the same module opens graft's build.sbt passes to forked runs
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class CheckoutError(Exception):
    """The directory does not hold graft's sources."""


def _sources(root):
    tops = [os.path.join(root, p) for p in
            ("build.sbt", "project/build.properties", "src/main",
             "perfbench/harness/build.sbt", "perfbench/harness/project/build.properties",
             "perfbench/harness/src")]
    for top in tops:
        if os.path.isfile(top):
            yield top
        for d, _, files in sorted(os.walk(top)):
            for f in sorted(files):
                yield os.path.join(d, f)


def source_digest(root):
    h = hashlib.sha256()
    for path in _sources(root):
        h.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def _sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts = ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"] + opts
    env["SBT_OPTS"] = " ".join(opts)
    return env


def _sbt(cwd, args, log):
    log.write(f"$ (cd {cwd}) sbt {' '.join(args)}\n")
    log.flush()
    p = subprocess.run(["sbt"] + SBT_FLAGS + args, cwd=cwd, env=_sbt_env(),
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    log.write(p.stdout)
    if p.returncode != 0:
        raise RuntimeError(f"sbt {' '.join(args)} failed in {cwd}; see {log.name}")
    return p.stdout


def classpath(root, state_dir):
    """Compiles (when the sources changed) and returns the classpath."""
    for need in ("build.sbt", "src/main/scala/graft/SparkEntry.scala",
                 "perfbench/harness/build.sbt"):
        if not os.path.exists(os.path.join(root, need)):
            raise CheckoutError(f"{need} not found under {root}: run from a graft checkout")
    digest = source_digest(root)
    stamp = os.path.join(state_dir, f"classpath-{digest}.txt")
    if os.path.exists(stamp):
        with open(stamp) as f:
            return f.read().strip()
    os.makedirs(state_dir, exist_ok=True)
    harness = os.path.join(root, "perfbench", "harness")
    with open(os.path.join(state_dir, "build.log"), "a") as log:
        print("perfbench: building graft and the harness", file=sys.stderr)
        # the harness build depends on graft's root project: this
        # compiles both, and the classpath holds graft's classes and jars
        out = _sbt(harness, ["compile", "export Runtime/fullClasspath"], log)
    cp = [l for l in out.splitlines() if ".jar" in l and not l.startswith("[")][-1].strip()
    with open(stamp, "w") as f:
        f.write(cp)
    return cp


def driver_heap():
    """The driver heap tier-1 uses: half of RAM in GiB, clamped to 2..8."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def java_command(cp, work, heap, args):
    """The harness JVM, with the heap flag tier-1 sets (`-Xmx` only)."""
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java"] + opens +
            [f"-Xmx{heap}", "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC",
             f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/spark-local",
             "-cp", cp, "graft.perfbench.Main"] + args)
