"""Builds the engine and the benchmark's JVM side from source.

Compiles `src/main/scala` (the engine) together with `perfbench/src` (the
benchmark's JVM side) with the Scala compiler that ships in Spark's jar
directory, into `.bench_build/<source hash>/classes`. A build whose
sources are unchanged is reused.
"""
import hashlib
import os
import pathlib
import shutil
import subprocess


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the one next to the
    `spark-submit` found on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise BuildError("Spark not found: set SPARK_HOME")
    return os.path.join(home, "jars")


def build(root):
    """Returns the classes directory, compiling first if needed."""
    root = pathlib.Path(root)
    engine = root / "src" / "main" / "scala"
    bench = root / "perfbench" / "src"
    if not engine.is_dir() or not bench.is_dir():
        raise BuildError("engine sources (src/main/scala) not found")
    files = sorted(engine.rglob("*.scala")) + sorted(bench.glob("*.scala"))
    digest = hashlib.sha256()
    for f in files:
        digest.update(str(f.relative_to(root)).encode())
        digest.update(f.read_bytes())
    out_root = root / ".bench_build"
    out = out_root / digest.hexdigest()[:16]
    classes = out / "classes"
    if (out / "OK").exists():
        return classes
    # one build is kept: the sources changed, so every older one is stale
    shutil.rmtree(out_root, ignore_errors=True)
    classes.mkdir(parents=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
           "-d", str(classes)] + [str(f) for f in files]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE,
                          stderr=subprocess.STDOUT, text=True, timeout=800)
    if proc.returncode != 0:
        raise BuildError("compile failed:\n" + proc.stdout[-4000:])
    (out / "OK").write_text("ok\n")
    return classes
