"""Build file of the benchmark: compiles the engine (src/main/scala) and the
benchmark child (perfbench/src) with the Scala compiler that ships in the
Spark jar directory named by build.sbt's `unmanagedBase`. Output goes to
.bench_build/ in the checkout and is reused while no source changes.

    python3 perfbench/build.py      # build (or confirm the cached build)
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

# Spark on JDK 17 needs these opens when started outside spark-submit
# (the same list as build.sbt's javaOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BuildError(Exception):
    pass


def jvm_opens():
    out = []
    for p in ADD_OPENS:
        out += ["--add-opens", p + "=ALL-UNNAMED"]
    return out


def jar_dir(root):
    """The unmanaged jar directory declared in build.sbt."""
    sbt = root / "build.sbt"
    if not sbt.is_file():
        raise BuildError("build.sbt not found in %s" % root)
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
    if not m:
        raise BuildError("build.sbt declares no unmanagedBase jar directory")
    d = Path(m.group(1))
    if not any(d.glob("scala-compiler-*.jar")):
        raise BuildError("no scala-compiler jar under %s" % d)
    return d


def _sources(root):
    main = sorted((root / "src" / "main" / "scala").rglob("*.scala"))
    bench = sorted((root / "perfbench" / "src").glob("*.scala"))
    if not main:
        raise BuildError("no engine sources under src/main/scala")
    if not bench:
        raise BuildError("no benchmark sources under perfbench/src")
    return main, bench


def _stamp(root, files, jars):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(root)).encode())
        h.update(f.read_bytes())
    h.update(str(jars).encode())
    h.update(" ".join(sorted(p.name for p in jars.glob("*.jar"))).encode())
    return h.hexdigest()


def _scalac(jars, classpath, out, srcs, log):
    out.mkdir(parents=True)
    argfile = out.parent / (out.name + ".args")
    argfile.write_text("\n".join(str(s) for s in srcs) + "\n")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", str(jars / "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", str(out), "-classpath", classpath,
           "@" + str(argfile)]
    with open(log, "ab") as lf:
        rc = subprocess.call(cmd, stdout=lf, stderr=subprocess.STDOUT)
    if rc != 0:
        raise BuildError("scalac failed (exit %d), see %s" % (rc, log))


def ensure(root):
    """Build if needed; return the child JVM classpath."""
    root = Path(root).resolve()
    jars = jar_dir(root)
    main, bench = _sources(root)
    resources = root / "src" / "main" / "resources"
    res_files = sorted(p for p in resources.rglob("*") if p.is_file()) if resources.is_dir() else []
    out = root / ".bench_build" / "classes"
    stamp = _stamp(root, main + bench + res_files, jars)
    stamp_file = out / "STAMP"
    main_out, bench_out = out / "main", out / "bench"
    if not (stamp_file.is_file() and stamp_file.read_text() == stamp):
        shutil.rmtree(out, ignore_errors=True)
        out.mkdir(parents=True)
        log = out / "build.log"
        _scalac(jars, str(jars / "*"), main_out, main, log)
        _scalac(jars, "%s%s%s" % (jars / "*", os.pathsep, main_out), bench_out, bench, log)
        stamp_file.write_text(stamp)
    parts = [str(bench_out), str(main_out)]
    if resources.is_dir():
        parts.append(str(resources))
    parts.append(str(jars / "*"))
    return os.pathsep.join(parts)


if __name__ == "__main__":
    try:
        print(ensure(Path(__file__).resolve().parent.parent))
    except BuildError as e:
        print("build failed: %s" % e, file=sys.stderr)
        sys.exit(2)
