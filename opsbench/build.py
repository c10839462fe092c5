#!/usr/bin/env python3
"""Build file of the benchmark, in two steps:

1. compile the program (src/main/scala) and the harness (opsbench/src) with
   the Scala compiler that ships in Spark's jar directory, into
   <build-root>/opsbench/classes, packed into <build-root>/opsbench/classes.jar;
2. seed the history store: the compiled program ingests the synthetic
   shop's history from the synthetic upstream into
   <build-root>/opsbench/store-<stamp>/store, and checks its row counts.
   Every run restores copies of this store. The seeding JVM also writes a
   class-data-sharing archive of the classes it loaded
   (<build-root>/opsbench/classes.jsa), which every run's JVM maps at
   start instead of loading and verifying those classes again.

Usage: python3 opsbench/build.py   (from the repository root)

The build root is $CARGO_TARGET_DIR when set, else .bench_build. Each step
is skipped when its stamp (sources, sizes) matches the last build.
"""
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

ROOT = Path.cwd()
HERE = Path(__file__).resolve().parent


def build_root() -> Path:
    return (ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build") / "opsbench").resolve()


def spark_jars() -> Path:
    """Spark's jar directory: $SPARK_HOME/jars, else the build's unmanagedBase."""
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    sbt = ROOT / "build.sbt"
    if sbt.is_file():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m and Path(m.group(1)).is_dir():
            return Path(m.group(1))
    raise SystemExit("opsbench: cannot find Spark's jars (set SPARK_HOME)")


def classpath(extra: Path) -> str:
    jars = sorted(str(p) for p in spark_jars().glob("*.jar"))
    return os.pathsep.join([str(extra)] + jars)


def sources():
    main = ROOT / "src" / "main" / "scala"
    bench = HERE / "src"
    if not main.is_dir() or not bench.is_dir():
        raise SystemExit("opsbench: the program's sources (src/main/scala) are not in this directory")
    return sorted(main.rglob("*.scala")) + sorted(bench.rglob("*.scala"))


def build() -> Path:
    srcs = sources()
    res = ROOT / "src" / "main" / "resources"
    stamp = hashlib.sha256()
    for f in srcs + (sorted(p for p in res.rglob("*") if p.is_file()) if res.is_dir() else []):
        stamp.update(str(f.relative_to(ROOT)).encode())
        stamp.update(f.read_bytes())
    stamp = stamp.hexdigest()
    out = build_root()
    classes = out / "classes"
    stamp_file = out / "classes.stamp"
    jar = out / "classes.jar"
    if jar.is_file() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return jar
    stamp_file.unlink(missing_ok=True)
    archive().unlink(missing_ok=True)  # made for the old classes
    tmp = out / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = out / "sources.txt"
    argfile.write_text("\n".join(str(s) for s in srcs) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", classpath(tmp), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", str(tmp), "@" + str(argfile)]
    print(f"opsbench: compiling {len(srcs)} sources", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=800)
    if r.returncode != 0:
        raise SystemExit(f"opsbench: compile failed ({r.returncode})")
    if res.is_dir():
        shutil.copytree(res, tmp, dirs_exist_ok=True)
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    # class-data sharing maps classes from jars only, not from directories
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for f in sorted(classes.rglob("*")):
            if f.is_file():
                z.write(f, f.relative_to(classes).as_posix())
    stamp_file.write_text(stamp)
    return jar


def archive() -> Path:
    """The class-data-sharing archive the seeding step writes (see above)."""
    return build_root() / "classes.jsa"


# Sizes of the synthetic shop and of one run; see opsbench/README.md.
SIZES = {"days": 32, "per-day": 20, "delay-us": 1000}
HEAP = "3g"
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def java(jar: Path, work: Path, args, props=(), jvm=()):
    """The JVM command line (the repo's run flags with a fixed heap, and the
    class-data-sharing archive when the build has made it) and its
    environment; everything the JVM and Spark write goes under `work`."""
    cmd = ["java"] + list(jvm)
    if archive().is_file():
        cmd.append(f"-XX:SharedArchiveFile={archive()}")
    for o in JDK_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=1g", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work / 'tmp'}",
            f"-Dspark.local.dir={work / 'spark-local'}",
            f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
            "-Dspark.driver.host=127.0.0.1", "-Dspark.driver.bindAddress=127.0.0.1"]
    cmd += [f"-D{p}" for p in props]
    cmd += ["-cp", classpath(jar), "opsbench.OpsBench", "--work", str(work)] + list(args)
    for k, v in SIZES.items():
        cmd += [f"--{k}", str(v)]
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local"), SPARK_GRAFT_CPUS=str(cpus()))
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    return cmd, env


def seeded_store(jar: Path) -> Path:
    """Step 2: the history store, seeded by the program built in step 1,
    and the class-data-sharing archive of the seeding JVM."""
    stamp = hashlib.sha256(((build_root() / "classes.stamp").read_text()
                            + json.dumps(SIZES, sort_keys=True)).encode()).hexdigest()[:16]
    out = build_root()
    target = out / f"store-{stamp}"
    if (target / "seeded.json").is_file():
        return target / "store"
    for old in out.glob("store-*"):
        shutil.rmtree(old, ignore_errors=True)
    tmp = out / "store.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    archive().unlink(missing_ok=True)
    cmd, env = java(jar, tmp, ["--workload", "seed-store", "--result", str(tmp / "seeded.json")],
                    jvm=[f"-XX:ArchiveClassesAtExit={tmp / 'classes.jsa'}"])
    print("opsbench: seeding the history store", file=sys.stderr)
    with open(out / "seed-store.log", "w") as log:
        r = subprocess.run(cmd, env=env, stdout=log, stderr=subprocess.STDOUT, timeout=600)
    if r.returncode != 0 or not (tmp / "seeded.json").is_file():
        raise SystemExit(f"opsbench: seeding failed ({r.returncode}); see {out / 'seed-store.log'}")
    for d in ("tmp", "spark-local", "warehouse"):
        shutil.rmtree(tmp / d, ignore_errors=True)
    if (tmp / "classes.jsa").is_file():  # a JVM that cannot dump one runs without
        (tmp / "classes.jsa").rename(archive())
    tmp.rename(target)
    return target / "store"


if __name__ == "__main__":
    print(seeded_store(build()))
