#!/usr/bin/env python3
"""Build file of the benchmark.

Compiles the engine's sources (src/main/scala) together with the
benchmark's (perfbench/src/main/scala) into .bench_build/classes, using
the Scala compiler and the Spark jars of the local Spark installation
($SPARK_HOME/jars, else the jars next to spark-submit on PATH). This is the
compiler version and classpath build.sbt uses. A build whose sources have
not changed is reused.

    python3 perfbench/build.py           # build, print the classes dir
    python3 perfbench/build.py --test    # also build the helper tests
"""
import hashlib
import os
import pathlib
import shutil
import subprocess
import sys

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = ROOT / ".bench_build"


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    candidates = [pathlib.Path(home) / "jars"] if home else []
    submit = shutil.which("spark-submit")
    if submit:
        candidates.append(pathlib.Path(submit).resolve().parent.parent / "jars")
    for c in candidates:
        if any(c.glob("spark-core_*.jar")) and any(c.glob("scala-compiler-*.jar")):
            return c
    raise BuildError("no Spark installation with a Scala compiler found "
                     "(set SPARK_HOME)")


def java():
    home = os.environ.get("JAVA_HOME")
    if home and (pathlib.Path(home) / "bin" / "java").exists():
        return str(pathlib.Path(home) / "bin" / "java")
    found = shutil.which("java")
    if not found:
        raise BuildError("no java on PATH")
    return found


def sources(*dirs):
    out = []
    for d in dirs:
        if not d.is_dir():
            raise BuildError(f"source directory {d.relative_to(ROOT)} is missing")
        out.extend(sorted(d.rglob("*.scala")))
    if not out:
        raise BuildError("no Scala sources found")
    return out


def compile_to(name, srcs, extra_cp=()):
    """Compiles `srcs` into OUT/name unless an identical build exists."""
    jars = spark_jars()
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    for j in sorted(x.name for x in jars.glob("*.jar")):
        h.update(j.encode())
    for c in extra_cp:
        h.update(str(c).encode())
    stamp = h.hexdigest()
    dest = OUT / name
    stamp_file = OUT / f"{name}.stamp"
    if dest.is_dir() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return dest
    tmp = OUT / f"{name}.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = OUT / f"{name}.args"
    argfile.write_text("\n".join(f'"{p}"' for p in srcs) + "\n")
    cp = os.pathsep.join([f"{jars}/*", *map(str, extra_cp)])
    cmd = [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={OUT}", "-cp", cp, "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", str(tmp), f"@{argfile}"]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout)
        raise BuildError(f"compiling {name} failed")
    shutil.rmtree(dest, ignore_errors=True)
    tmp.rename(dest)
    stamp_file.write_text(stamp)
    return dest


def build(tests=False):
    main = compile_to("classes", sources(ROOT / "src" / "main" / "scala",
                                         HERE / "src" / "main" / "scala"))
    if not tests:
        return main, None
    test = compile_to("test-classes", sources(HERE / "src" / "test" / "scala"),
                      extra_cp=[main])
    return main, test


if __name__ == "__main__":
    try:
        main, test = build(tests="--test" in sys.argv[1:])
    except BuildError as e:
        sys.stderr.write(f"build: {e}\n")
        sys.exit(2)
    print(main)
    if test:
        print(test)
