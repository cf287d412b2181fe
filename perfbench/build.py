"""Build step of the benchmark: compiles the engine (src/main/scala) and the
benchmark's own Scala sources (perfbench/src) with the Scala compiler that
ships in the Spark distribution's jars. No sbt, no network.

Outputs are two jars under the build directory (CARGO_TARGET_DIR if set,
else .bench_build), keyed by a hash of the sources, so an unchanged tree is
compiled once:

    python3 perfbench/build.py          # prints the runtime classpath
"""

import hashlib
import os
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = ROOT / "perfbench"
# jars or class-data-sharing archives of each kind kept in the build dir
KEEP_BUILDS = 4


def spark_jars():
    return Path(os.environ.get("SPARK_HOME", "/opt/spark")) / "jars"


def build_dir():
    return ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")


def _files(base, suffix):
    return sorted(p for p in base.rglob("*") if p.is_file() and p.name.endswith(suffix))


def _digest(paths, extra=""):
    h = hashlib.sha256(extra.encode())
    for p in paths:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def _scalac(sources, out, classpath, resources=None):
    """Compile `sources` into the jar `out` (jars, not class directories, so
    the JVM can keep them in a class-data-sharing archive)."""
    tmp = out.with_name(out.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = out.with_name(out.name + ".args")
    argfile.write_text("\n".join(str(s) for s in sources) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", f"{spark_jars()}/*",
           "scala.tools.nsc.Main", "-nowarn", "-d", str(tmp),
           "-classpath", classpath, f"@{argfile}"]
    print(f"[perfbench] compiling {len(sources)} files -> {out}", file=sys.stderr)
    subprocess.run(cmd, check=True, stdout=sys.stderr)
    argfile.unlink()
    if resources is not None and resources.exists():
        shutil.copytree(resources, tmp, dirs_exist_ok=True)
    part = out.with_name(out.name + ".part")
    with zipfile.ZipFile(part, "w", zipfile.ZIP_DEFLATED) as jar:
        for f in sorted(p for p in tmp.rglob("*") if p.is_file()):
            jar.write(f, str(f.relative_to(tmp)))
    shutil.rmtree(tmp)
    part.rename(out)


def archive_path(classpath):
    """The class-data-sharing archive that belongs to one classpath."""
    return build_dir() / "classes" / (hashlib.sha256(classpath.encode()).hexdigest()[:16] + ".jsa")


def ensure():
    """Compile what is stale; return the runtime classpath string. Of the
    jars and archives of other source trees, the newest few are kept, so two
    trees can share one build dir without rebuilding each other's."""
    main = ROOT / "src" / "main"
    engine_src = _files(main / "scala", ".scala")
    resources = main / "resources"
    if not engine_src:
        raise FileNotFoundError(f"no engine sources under {main / 'scala'}")
    bench_src = _files(BENCH / "src", ".scala")
    jars = f"{spark_jars()}/*"
    classes = build_dir() / "classes"
    engine_key = _digest(engine_src + (_files(resources, "") if resources.exists() else []))
    engine_out = classes / f"engine-{engine_key}.jar"
    if not engine_out.exists():
        _scalac(engine_src, engine_out, jars, resources)
    bench_out = classes / f"bench-{_digest(bench_src, engine_key)}.jar"
    if not bench_out.exists():
        _scalac(bench_src, bench_out, f"{engine_out}:{jars}")
    for pattern in ("engine-*.jar", "bench-*.jar", "*.jsa"):
        for f in sorted(classes.glob(pattern), key=lambda p: p.stat().st_mtime)[:-KEEP_BUILDS]:
            f.unlink()
    return f"{bench_out}:{engine_out}:{jars}"


if __name__ == "__main__":
    print(ensure())
