"""Build file of the benchmark: compiles the program from source with sbt
(offline, as the repo's tier-1 verify does) and the benchmark's own Java
package against it, then caches the runtime classpath.

    python3 perfbench/build.py      # prints the classpath

Output goes to $CARGO_TARGET_DIR (default .bench_build) in the checkout;
a content hash of the sources decides whether a rebuild is needed.
"""
import glob
import hashlib
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def sbt_opts():
    """The offline sbt settings of the repo's tier-1 verify."""
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = "-Dsbt.offline=true -Dsbt.server.autostart=false -Xmx2g"
    if os.path.isfile(repos):
        opts = "-Dsbt.override.build.repos=true -Dsbt.repository.config=%s %s" % (repos, opts)
    return opts


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def sources():
    files = [os.path.join(ROOT, "build.sbt")]
    for pat in ("project/*.sbt", "project/*.properties", "project/*.scala",
                "src/main/**/*.scala", "src/main/**/*.java", "src/main/resources/**/*"):
        files += glob.glob(os.path.join(ROOT, pat), recursive=True)
    files += glob.glob(os.path.join(HERE, "java", "**", "*.java"), recursive=True)
    return sorted(f for f in files if os.path.isfile(f))


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def classpath():
    """The cached runtime classpath, rebuilt when any source changed."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("perfbench: no program source next to perfbench/ (build.sbt, src/main)")
    out = build_dir()
    files = sources()
    key = stamp(files)
    cp_file, stamp_file = os.path.join(out, "classpath.txt"), os.path.join(out, "stamp.txt")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file) and open(stamp_file).read() == key:
        return open(cp_file).read()
    os.makedirs(out, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", sbt_opts())
    log = os.path.join(out, "sbt.log")
    with open(log, "w") as fh:
        rc = subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true",
                              "export Runtime/fullClasspath"],
                             cwd=ROOT, env=env, stdout=fh, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
    lines = open(log).read().splitlines()
    cp = [ln for ln in lines if "scala-2.13/classes" in ln and not ln.startswith("[")]
    if rc != 0 or not cp:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        raise SystemExit("perfbench: sbt build failed (log %s)" % log)
    program_cp = cp[-1].strip()
    classes = os.path.join(out, "classes")
    java = glob.glob(os.path.join(HERE, "java", "**", "*.java"), recursive=True)
    rc = subprocess.call(["javac", "-nowarn", "-d", classes, "-cp", program_cp] + java,
                         stdin=subprocess.DEVNULL)
    if rc != 0:
        raise SystemExit("perfbench: javac of the benchmark package failed")
    full = classes + os.pathsep + program_cp
    with open(cp_file, "w") as fh:
        fh.write(full)
    with open(stamp_file, "w") as fh:
        fh.write(key)
    return full


if __name__ == "__main__":
    print(classpath())
