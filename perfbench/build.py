#!/usr/bin/env python3
"""Build file of the benchmark.

Compiles the engine sources (src/main/scala) together with the harness
(perfbench/src) using the Scala compiler that ships with the Spark
distribution ($SPARK_HOME, or one whose spark-submit is on PATH), packs the
classes into .bench_build/perfbench/<source hash>/perfbench.jar, and records a JVM
class-data-sharing archive from one run of the harness self-test, so every
benchmark JVM starts without re-loading and verifying ~15k Spark classes.
A build whose sources are unchanged is reused.

    python3 perfbench/build.py      # prints the jar
"""
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
HERE = ROOT / "perfbench"
OUT = ROOT / ".bench_build" / "perfbench"


class BuildError(Exception):
    pass


def spark_jars():
    """Jars of the first Spark distribution with a Scala compiler: $SPARK_HOME,
    then the installation of each spark-submit on PATH."""
    homes = [Path(os.environ["SPARK_HOME"])] if os.environ.get("SPARK_HOME") else []
    homes += [(Path(d) / "spark-submit").resolve().parent.parent
              for d in os.environ.get("PATH", "").split(os.pathsep) if (Path(d) / "spark-submit").is_file()]
    for home in homes:
        jars = sorted((home / "jars").glob("*.jar"))
        if any(j.name.startswith("scala-compiler") for j in jars):
            return jars
    raise BuildError("no Spark distribution with a Scala compiler: set SPARK_HOME")


def sources():
    engine = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    if not engine:
        raise BuildError(f"no engine sources under {ROOT / 'src' / 'main' / 'scala'}")
    return engine + sorted((HERE / "src").rglob("*.scala"))


def jvm_flags(work):
    """Flags of every benchmark JVM; `work` holds its temporary files."""
    return ["-Xms3g", "-Xmx3g", "-XX:-UsePerfData", "-Xlog:cds=off", "-Xlog:cds+dynamic=off",
            f"-Djava.io.tmpdir={work / 'tmp'}",
            f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
            "-Dspark.sql.session.timeZone=UTC", *ADD_OPENS]


# Spark on JDK 17 outside spark-submit (as in the root build.sbt)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def build():
    """Build if needed; returns (classpath list, extra JVM flags)."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs + [Path(__file__).resolve()]:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    out = OUT / h.hexdigest()[:16]
    jar, archive = out / "perfbench.jar", out / "classes.jsa"
    classpath = [jar] + jars
    if not (out / "BUILD_OK").exists():
        OUT.mkdir(parents=True, exist_ok=True)
        for old in OUT.iterdir():
            if old.is_dir() and len(old.name) == 16:
                shutil.rmtree(old, ignore_errors=True)
        classes = out / "classes"
        classes.mkdir(parents=True)
        args = out / "scalac.args"
        args.write_text("\n".join(str(s) for s in srcs) + "\n")
        print(f"[perfbench] compiling {len(srcs)} sources -> {jar}", file=sys.stderr, flush=True)
        cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", str(jars[0].parent / "*"),
               "scala.tools.nsc.Main", "-nowarn", "-d", str(classes),
               "-classpath", os.pathsep.join(map(str, jars)), f"@{args}"]
        if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
            raise BuildError("scalac failed")
        with zipfile.ZipFile(jar, "w") as z:
            for f in sorted(classes.rglob("*")):
                if f.is_file():
                    z.write(f, f.relative_to(classes))
        shutil.rmtree(classes)
        # The archive only speeds start-up: a failed training run leaves
        # none, and the JVMs then start without it.
        print("[perfbench] recording the class-data-sharing archive", file=sys.stderr, flush=True)
        work = out / "train"
        (work / "tmp").mkdir(parents=True)
        subprocess.run(["java", f"-XX:ArchiveClassesAtExit={archive}", *jvm_flags(work),
                        "-cp", os.pathsep.join(map(str, classpath)), "perfbench.SelfTest", str(work)],
                       stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, cwd=ROOT)
        shutil.rmtree(work, ignore_errors=True)
        (out / "BUILD_OK").write_text("ok\n")
    return classpath, ([f"-XX:SharedArchiveFile={archive}"] if archive.exists() else [])


if __name__ == "__main__":
    try:
        print(build()[0][0])
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
