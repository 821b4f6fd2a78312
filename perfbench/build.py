#!/usr/bin/env python3
"""Build the benchmark program.

Compiles graft's main sources (`src/main/scala`) together with the
benchmark's own sources (`perfbench/src`) in one scalac run, using the
Scala compiler and the Spark jars of the Spark distribution (`$SPARK_HOME`,
or the one whose `spark-submit` is on PATH) — the same jars the
repository's sbt build compiles against. The classes land in `<build dir>/graftbench-<source hash>/classes`,
where the build dir is `$CARGO_TARGET_DIR` or `.bench_build` under the
repository root. A build whose sources are unchanged is reused.

Usage: python3 perfbench/build.py    (prints the classes directory)
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
REPO = HERE.parent


def spark_jars():
    """`$SPARK_HOME/jars`, or the jars of the first Spark distribution
    whose `bin/spark-submit` is on PATH."""
    homes = [Path(os.environ["SPARK_HOME"])] if os.environ.get("SPARK_HOME") else [
        Path(d).parent for d in os.environ.get("PATH", "").split(os.pathsep)
        if d and (Path(d) / "spark-submit").exists()]
    for home in homes:
        if any((home / "jars").glob("spark-core_*.jar")):
            return home / "jars"
    raise SystemExit("no Spark distribution found; set SPARK_HOME")


def sources(repo=REPO):
    main = repo / "src" / "main" / "scala"
    if not main.is_dir():
        raise SystemExit(f"graft sources not found at {main}")
    return sorted(main.rglob("*.scala")) + sorted((repo / "perfbench" / "src").rglob("*.scala"))


def build_dir(repo=REPO):
    return repo / os.environ.get("CARGO_TARGET_DIR", ".bench_build")


def build(repo=REPO, log=sys.stderr):
    """Compile if needed; return the classes directory."""
    srcs = sources(repo)
    resources = repo / "src" / "main" / "resources"
    digest = hashlib.sha256()
    for f in srcs + (sorted(p for p in resources.rglob("*") if p.is_file()) if resources.is_dir() else []):
        digest.update(str(f.relative_to(repo)).encode() + b"\0" + f.read_bytes() + b"\0")
    out = build_dir(repo) / f"graftbench-{digest.hexdigest()[:16]}"
    if (out / "ok").exists():
        return out / "classes"
    jars = spark_jars()
    tmp = out.with_name(out.name + f".tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    (tmp / "classes").mkdir(parents=True)
    argfile = tmp / "sources.txt"
    argfile.write_text("\n".join(str(s) for s in srcs) + "\n")
    cp = f"{jars}/*"
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
           "-classpath", cp, "-d", str(tmp / "classes"), f"@{argfile}"]
    print(f"building graft + benchmark ({len(srcs)} sources) into {out}", file=log)
    res = subprocess.run(cmd, stdout=log, stderr=log)
    if res.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit(f"scalac failed with exit code {res.returncode}")
    if resources.is_dir():
        shutil.copytree(resources, tmp / "classes", dirs_exist_ok=True)
    argfile.unlink()
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    (out / "ok").touch()
    return out / "classes"


if __name__ == "__main__":
    print(build())
