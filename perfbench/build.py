"""Build file of the benchmark package.

Compiles the program (`src/main/scala` of the checkout) and the benchmark's
own sources (`perfbench/src`) with the Scala compiler that ships among the
Spark jars the root `build.sbt` names as its `unmanagedBase`, packs each into
a jar, and records a class-data-sharing archive from a short training run so
that every benchmark JVM starts without re-loading and verifying the same
classes. Outputs go to `.bench_build/perfbench/`, keyed by a hash of the
sources, so a second run in the same checkout reuses them.

    python3 perfbench/build.py        # prints the runtime classpath
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH_SRC = ROOT / "perfbench" / "src"
MAIN_SRC = ROOT / "src" / "main" / "scala"
RESOURCES = ROOT / "src" / "main" / "resources"
OUT = ROOT / ".bench_build" / "perfbench"


# Spark on JDK 17 outside spark-submit needs the module opens that
# org.apache.spark.launcher.JavaModuleOptions lists.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
# A fixed heap and young generation, and a fixed occupancy at which G1 starts
# marking, keep the resident-set high-water mark from following the
# collector's timing-driven sizing from run to run.
JVM_FLAGS = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
    "-Xms3g", "-Xmx3g", "-Xmn1g", "-XX:-G1UseAdaptiveIHOP", "-Xss4m", "-XX:-UsePerfData"]


class BuildError(Exception):
    pass


def spark_jars() -> Path:
    """The jar directory the root build compiles against."""
    build = ROOT / "build.sbt"
    if not build.is_file():
        raise BuildError(f"{build} is missing: not a checkout of the program")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', build.read_text())
    candidates = [Path(m.group(1))] if m else []
    if os.environ.get("SPARK_HOME"):
        candidates.append(Path(os.environ["SPARK_HOME"]) / "jars")
    for c in candidates:
        if any(c.glob("spark-sql_*.jar")):
            return c
    raise BuildError("no Spark jar directory found (root build.sbt unmanagedBase or $SPARK_HOME/jars)")


def _files(d: Path, pattern="*"):
    return sorted(p for p in d.rglob(pattern) if p.is_file())


def _sources(d: Path):
    return _files(d, "*.scala")


def _digest(files, extra="") -> str:
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def _compile(jars: Path, classpath, files, dest: Path):
    if (dest / ".ok").exists():
        return
    shutil.rmtree(dest, ignore_errors=True)
    dest.mkdir(parents=True)
    compiler = os.pathsep.join(str(next(jars.glob(f"{n}-2.13*.jar")))
                               for n in ("scala-compiler", "scala-library", "scala-reflect"))
    args_file = dest / "sources.txt"
    args_file.write_text("\n".join(str(f) for f in files) + "\n")
    cmd = ["java", "-Xss16m", "-Xmx2g", "-XX:-UsePerfData", "-cp", compiler, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(dest), "-classpath", os.pathsep.join(classpath),
           f"@{args_file}"]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    (dest / ".ok").write_text("")


def _jar(dirs, dest: Path):
    if dest.exists():
        return
    tmp = dest.with_suffix(".tmp")
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_STORED) as z:
        for d in dirs:
            for f in sorted(d.rglob("*")):
                if f.is_file() and f.name not in (".ok", "sources.txt"):
                    z.write(f, f.relative_to(d))
    tmp.rename(dest)


def java_cmd(classpath, cds: Path, work: Path):
    """The JVM command line every benchmark run uses."""
    return ["java", *JVM_FLAGS, f"-XX:SharedArchiveFile={cds}", f"-Djava.io.tmpdir={work / 'tmp'}",
            "-cp", os.pathsep.join(classpath), "perfbench.Main"]


def _train(classpath, cds: Path):
    """Record the class-data-sharing archive from one short traced run."""
    if cds.exists():
        return
    work = OUT / "train"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    tmp = cds.with_suffix(".tmp")
    cmd = ["java", *JVM_FLAGS, f"-XX:ArchiveClassesAtExit={tmp}", f"-Djava.io.tmpdir={work / 'tmp'}",
           "-cp", os.pathsep.join(classpath), "perfbench.Main",
           "--workload", "crawl_deep", "--seed", "0", "--seconds", "1", "--trace", "0",
           "--work", str(work), "--trace-dir", str(work / "traces")]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    shutil.rmtree(work, ignore_errors=True)
    if r.returncode != 0 or not tmp.exists():
        raise BuildError("class-data-sharing training run failed:\n" + r.stdout[-4000:])
    tmp.rename(cds)


def build():
    """Compile program + benchmark if needed; return (classpath, cds archive)."""
    jars = spark_jars()
    main_files = _sources(MAIN_SRC)
    if not main_files:
        raise BuildError(f"no program sources under {MAIN_SRC}")
    bench_files = _sources(BENCH_SRC)
    main_key = _digest(main_files + _files(RESOURCES))
    # the archive depends on the JVM flags too
    key = f"{main_key}-{_digest(bench_files, ' '.join(JVM_FLAGS))}"
    main_out = OUT / f"main-{main_key}"
    bench_out = OUT / f"bench-{key}"
    jar_cp = str(jars / "*")
    _compile(jars, [jar_cp], main_files, main_out)
    _compile(jars, [jar_cp, str(main_out)], bench_files, bench_out)
    main_jar, bench_jar = OUT / f"main-{main_key}.jar", OUT / f"bench-{key}.jar"
    _jar([main_out, RESOURCES], main_jar)
    _jar([bench_out], bench_jar)
    classpath = [str(bench_jar), str(main_jar), jar_cp]
    cds = OUT / f"cds-{key}.jsa"
    _train(classpath, cds)
    current = {main_out, bench_out, main_jar, bench_jar, cds}
    for p in OUT.glob("*"):
        if p.name.startswith(("main-", "bench-", "cds-")) and p not in current:
            shutil.rmtree(p) if p.is_dir() else p.unlink()
    return classpath, cds


if __name__ == "__main__":
    try:
        print(os.pathsep.join(build()[0]))
    except BuildError as e:
        print(f"perfbench build: {e}", file=sys.stderr)
        sys.exit(2)
