"""Build graft and the benchmark harness from source, with scalac.

The program (`src/main/scala`, `src/main/resources`) and the harness
(`perfbench/src/main/scala`) compile against the Spark jars, which
carry the Scala compiler the project builds with. Outputs go to
`.bench_build/perfbench/` in the checkout; a build whose sources are
unchanged is reused.

    python3 perfbench/build.py        # prints the classpath
"""
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")


class BuildError(Exception):
    pass


def _sources(*dirs):
    out = []
    for d in dirs:
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files]
    return sorted(out)


def _stamp(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _scalac(sources, classpath, out_dir):
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(SPARK_JARS, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", classpath, "-d", tmp] + sources
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError(f"scalac failed for {out_dir}:\n{proc.stdout[-4000:]}")
    shutil.rmtree(out_dir, ignore_errors=True)
    os.rename(tmp, out_dir)


def _target(name, sources, resources, classpath):
    """Compile `sources` into BUILD/<name> unless its stamp matches."""
    out_dir = os.path.join(BUILD, name)
    stamp_file = out_dir + ".stamp"
    stamp = _stamp(sources + resources) + classpath
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return out_dir, stamp
    _scalac([s for s in sources if s.endswith(".scala")], classpath, out_dir)
    res_root = os.path.join(ROOT, "src", "main", "resources")
    for r in resources:
        dst = os.path.join(out_dir, os.path.relpath(r, res_root))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copy(r, dst)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return out_dir, stamp


def build():
    """Return (classpath, source fingerprint); raise BuildError."""
    program_src = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(program_src):
        raise BuildError(f"no program sources under {program_src}")
    if not os.path.isdir(SPARK_JARS):
        raise BuildError(f"no Spark jars under {SPARK_JARS}")
    os.makedirs(BUILD, exist_ok=True)
    spark_cp = os.path.join(SPARK_JARS, "*")
    program, stamp = _target("program", _sources(program_src),
                             _sources(os.path.join(ROOT, "src", "main", "resources")),
                             spark_cp)
    harness_cp = os.pathsep.join([program, spark_cp])
    harness, _ = _target("harness",
                         _sources(os.path.join(ROOT, "perfbench", "src", "main", "scala")),
                         [], harness_cp)
    return os.pathsep.join([harness, program, spark_cp]), stamp[:16]


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
