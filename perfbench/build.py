"""Builds the program and the harness from source into `.bench_build/`.

Both are compiled with the Scala compiler that ships among the Spark jars
the sbt build compiles against (`unmanagedBase` in `build.sbt`), directly,
without sbt. A build is reused only while the SHA-256 of its sources still
matches the stamp written next to its classes, so the harness never runs
classes older than the source tree.
"""
import hashlib
import re
import shutil
import subprocess
from pathlib import Path


class BuildError(Exception):
    pass


def sources(tree: Path):
    return sorted(p for p in tree.rglob("*.scala") if p.is_file())


def digest(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(str(f).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def sbt_setting(root: Path, pattern: str) -> str:
    """The first group of `pattern` in `build.sbt`, the one place that names
    the Scala version, the Spark jars and the JVM options a session needs."""
    sbt = root / "build.sbt"
    m = sbt.is_file() and re.search(pattern, sbt.read_text(), re.S)
    if not m:
        raise BuildError(f"{sbt} does not match {pattern!r}")
    return m.group(1)


def spark_jars(root: Path) -> Path:
    """The Spark jar directory `build.sbt` names as its `unmanagedBase`."""
    jars = Path(sbt_setting(root, r'unmanagedBase\s*:=\s*file\("([^"]+)"\)'))
    if not jars.is_dir():
        raise BuildError(f"{jars} is not a directory")
    return jars


def add_opens(root: Path):
    """`build.sbt`'s `jdk17AddOpens`: the packages Spark 4 on JDK 17 needs
    opened when a session starts outside spark-submit."""
    block = sbt_setting(root, r'val jdk17AddOpens = Seq\((.*?)\)')
    return re.findall(r'"([^"]+)"', block)


def compile_tree(srcs, out: Path, compiler: str, classpath: str, stamp: str, log: Path):
    stamp_file = out / "STAMP"
    if stamp_file.is_file() and stamp_file.read_text() == stamp:
        return
    tmp = out.with_name(out.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", compiler, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(tmp), "-cp", classpath] + [str(s) for s in srcs]
    with open(log, "w") as f:
        rc = subprocess.run(cmd, stdout=f, stderr=subprocess.STDOUT).returncode
    if rc != 0:
        raise BuildError(f"scalac failed ({rc}); see {log}")
    (tmp / "STAMP").write_text(stamp)
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)


def build(root: Path, build_dir: Path) -> str:
    """Returns the runtime classpath of harness + program + Spark."""
    program_src = root / "src" / "main" / "scala"
    harness_src = root / "perfbench" / "src"
    program = sources(program_src)
    if not program:
        raise BuildError(f"no program sources under {program_src}")
    jars = spark_jars(root)
    scala = sbt_setting(root, r'scalaVersion\s*:=\s*"([^"]+)"')
    compiler = ":".join(str(jars / f"scala-{part}-{scala}.jar")
                        for part in ("compiler", "library", "reflect"))
    build_dir.mkdir(parents=True, exist_ok=True)
    spark_cp = str(jars / "*")
    program_out = build_dir / "program"
    harness_out = build_dir / "harness"
    program_stamp = digest(program, compiler)
    compile_tree(program, program_out, compiler, spark_cp, program_stamp,
                 build_dir / "program.log")
    harness = sources(harness_src)
    compile_tree(harness, harness_out, compiler, f"{program_out}:{spark_cp}",
                 digest(harness, program_stamp), build_dir / "harness.log")
    return f"{harness_out}:{program_out}:{spark_cp}"


def java_command(root: Path, classpath: str, tmp: Path):
    """The JVM launch line; every scratch file lands under `tmp`."""
    opens = [x for p in add_opens(root) for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return ["java", *opens,
            "-XX:ReservedCodeCacheSize=1g", "-XX:+UseCodeCacheFlushing",
            "-Xmx4g", f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", classpath]
