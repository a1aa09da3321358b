"""Build file of the benchmark package.

Compiles graft's sources (src/main/scala) and the benchmark harness
(perfbench/src) with the Scala compiler that ships in Spark's jars
directory, then generates the base lake with graft.GenData. Everything
lands in .bench_build/ at the repository root and is reused while the
sources are unchanged.

sbt is not used: it reads and writes caches outside the checkout. The
compiler version and options come from build.sbt instead (`scalaVersion`,
`scalacOptions`), so graft is compiled as the repository's own build
compiles it; a `scalacOptions` setting this file cannot read stops the
build rather than being skipped.

Run alone: python3 perfbench/build.py
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

BUILD_DIR = ".bench_build"
BASE_SF = "1"

# The module flags spark-submit passes on JDK 17 (JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BuildFailed(RuntimeError):
    pass


def spark_jars() -> Path:
    """The jars of the Spark installation SPARK_HOME names."""
    home = os.environ.get("SPARK_HOME", "")
    if not home or not (Path(home) / "jars").is_dir():
        raise BuildFailed("SPARK_HOME does not name a Spark installation")
    return Path(home) / "jars"


def jvm_flags(heap: str) -> list:
    flags = [f"-Xmx{heap}"]
    for p in ADD_OPENS:
        flags += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return flags


def _sources(root: Path):
    graft = sorted((root / "src" / "main" / "scala").rglob("*.scala"))
    harness = sorted((root / "perfbench" / "src").rglob("*.scala"))
    if not graft:
        raise BuildFailed(f"no graft sources under {root / 'src/main/scala'}")
    if not harness:
        raise BuildFailed("no harness sources under perfbench/src")
    return graft, harness


def _digest(files) -> str:
    h = hashlib.sha256()
    for f in files:
        h.update(str(f).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


_STRING = r'"((?:[^"\\]|\\.)*)"'


def sbt_settings(text: str):
    """(scalaVersion, scalacOptions) of a build.sbt. Options may be set
    with `:=`, `+=` or `++=` from string literals, alone or in a
    `Seq(...)`; any other use of scalacOptions raises BuildFailed."""
    code = "\n".join(line.split("//", 1)[0] for line in text.splitlines())
    v = re.search(r"scalaVersion\s*:=\s*" + _STRING, code)
    if not v:
        raise BuildFailed("build.sbt sets no scalaVersion this build can read")
    opts, read = [], 0
    for m in re.finditer(r"\bscalacOptions\s*(:=|\+\+=|\+=)\s*(Seq\(([^()]*)\)|"
                         + _STRING + ")", code):
        body = m.group(2) if m.group(3) is None else m.group(3)
        if re.sub(r"[\s,]", "", re.sub(_STRING, "", body)):
            break
        lits = re.findall(_STRING, body)
        opts = lits if m.group(1) == ":=" else opts + lits
        read += 1
    if read != len(re.findall(r"\bscalacOptions\b", code)):
        raise BuildFailed("build.sbt sets scalacOptions in a form this build cannot read")
    return v.group(1), opts


def _scalac(root: Path, out: Path, classpath: str, files, log: Path, options=()):
    jars = spark_jars()
    version, _ = sbt_settings((root / "build.sbt").read_text())
    compiler = [jars / f"scala-{m}-{version}.jar" for m in ("compiler", "library", "reflect")]
    missing = [str(j) for j in compiler if not j.exists()]
    if missing:
        raise BuildFailed(f"build.sbt's Scala {version} is not in Spark's jars: {missing}")
    out.mkdir(parents=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", ":".join(map(str, compiler)),
           "scala.tools.nsc.Main", "-usejavacp:false", "-nowarn", *options,
           "-classpath", classpath, "-d", str(out)] + [str(f) for f in files]
    with open(log, "w") as fh:
        rc = subprocess.run(cmd, cwd=root, stdout=fh, stderr=subprocess.STDOUT).returncode
    if rc != 0:
        raise BuildFailed(f"scalac failed ({rc}); see {log}")


def build_classes(root: Path) -> str:
    """Compile if the sources changed; return the runtime classpath."""
    graft, harness = _sources(root)
    build = root / BUILD_DIR
    classes = build / "classes"
    stamp = classes / "STAMP"
    digest = _digest(graft + harness + [root / "build.sbt"])
    if not (stamp.exists() and stamp.read_text() == digest):
        shutil.rmtree(classes, ignore_errors=True)
        tmp = build / "classes.tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        build.mkdir(exist_ok=True)
        jars_cp = ":".join(str(j) for j in sorted(spark_jars().glob("*.jar")))
        _, options = sbt_settings((root / "build.sbt").read_text())
        _scalac(root, tmp / "graft", jars_cp, graft, build / "scalac-graft.log", options)
        _scalac(root, tmp / "harness", f"{tmp / 'graft'}:{jars_cp}", harness,
                build / "scalac-harness.log")
        (tmp / "STAMP").write_text(digest)
        tmp.rename(classes)
    return f"{classes / 'harness'}:{classes / 'graft'}:{spark_jars()}/*"


def base_lake(root: Path, classpath: str, cores: int) -> Path:
    """The GenData lake at BASE_SF, regenerated when GenData changes."""
    gen_src = root / "src" / "main" / "scala" / "graft" / "GenData.scala"
    digest = hashlib.sha256(gen_src.read_bytes() + BASE_SF.encode()).hexdigest()
    lake = root / BUILD_DIR / f"lake_sf{BASE_SF}"
    stamp = lake / "STAMP"
    if stamp.exists() and stamp.read_text() == digest:
        return lake
    tmp = root / BUILD_DIR / "lake.tmp"
    shutil.rmtree(lake, ignore_errors=True)
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores))
    cmd = (["java"] + jvm_flags("6g") +
           [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", classpath, "graft.GenData", str(tmp), BASE_SF])
    with open(root / BUILD_DIR / "gendata.log", "w") as fh:
        rc = subprocess.run(cmd, cwd=tmp, env=env, stdout=fh,
                            stderr=subprocess.STDOUT).returncode
    if rc != 0:
        raise BuildFailed(f"GenData failed ({rc}); see {BUILD_DIR}/gendata.log")
    for stray in tmp.iterdir():
        if not stray.name.endswith(".parquet"):
            shutil.rmtree(stray, ignore_errors=True) if stray.is_dir() else stray.unlink()
    stamp_tmp = tmp / "STAMP"
    stamp_tmp.write_text(digest)
    tmp.rename(lake)
    return lake


def main():
    root = Path.cwd()
    try:
        cp = build_classes(root)
        print(base_lake(root, cp, os.cpu_count() or 1))
    except BuildFailed as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)


if __name__ == "__main__":
    main()
