"""Build file of the benchmark.

Compiles the repository's Scala sources (src/main/scala) and the
benchmark's own (perfbench/scala) with the Scala compiler that ships in the
Spark distribution's jars directory, so no dependency resolution runs.
Outputs go under the build directory; each half is rebuilt only when its
inputs change.

    python3 perfbench/build.py [BUILD_DIR]      # prints the run classpath
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def spark_jars():
    """The Spark distribution's jars directory: $SPARK_HOME/jars, else the
    one next to spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        raise SystemExit("perfbench: set SPARK_HOME to a Spark 4.x distribution")
    return Path(home) / "jars"


def java():
    jh = os.environ.get("JAVA_HOME")
    if jh and (Path(jh) / "bin" / "java").exists():
        return str(Path(jh) / "bin" / "java")
    return shutil.which("java") or "java"


def sources(d):
    return sorted(p for p in d.rglob("*.scala") if p.is_file())


def digest(files, extra):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def scalac(jars, classpath, srcs, out):
    compiler = [str(p) for p in sorted(jars.glob("scala-*.jar"))
                if p.name.startswith(("scala-compiler-", "scala-library-", "scala-reflect-"))]
    if len(compiler) != 3:
        raise SystemExit(f"perfbench: no Scala compiler among {jars}")
    if out.exists():
        shutil.rmtree(out)
    out.mkdir(parents=True)
    args = out.parent / (out.name + ".args")
    args.write_text("\n".join(["-nowarn", "-d", str(out), "-classpath", os.pathsep.join(classpath)]
                              + [str(s) for s in srcs]) + "\n")
    done = subprocess.run([java(), "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
                           "scala.tools.nsc.Main", "@" + str(args)])
    if done.returncode != 0:
        raise SystemExit(f"perfbench: compiling {out.name} failed")


def build(build_dir):
    """Compile what changed; return the classpath that runs the benchmark."""
    jars = spark_jars()
    jar_list = [str(p) for p in sorted(jars.glob("*.jar"))]
    parts = [("graft", sources(ROOT / "src" / "main" / "scala"), jar_list)]
    parts.append(("bench", sources(ROOT / "perfbench" / "scala"),
                  [str(build_dir / "graft")] + jar_list))
    for name, srcs, cp in parts:
        if not srcs:
            raise SystemExit(f"perfbench: no Scala sources for {name}")
        out = build_dir / name
        stamp = build_dir / (name + ".stamp")
        key = digest(srcs, "\n".join(cp))
        if stamp.exists() and stamp.read_text() == key and out.is_dir():
            continue
        if stamp.exists():
            stamp.unlink()
        print(f"perfbench: compiling {name} ({len(srcs)} files)", file=sys.stderr)
        scalac(jars, cp, srcs, out)
        stamp.write_text(key)
        # the bench half is compiled against the graft half
        if name == "graft":
            (build_dir / "bench.stamp").unlink(missing_ok=True)
    return [str(build_dir / "bench"), str(build_dir / "graft"), str(jars / "*")]


if __name__ == "__main__":
    d = Path(sys.argv[1]) if len(sys.argv) > 1 else ROOT / ".bench_build" / "classes"
    print(os.pathsep.join(build(d.resolve())))
