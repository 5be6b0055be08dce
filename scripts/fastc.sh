#!/usr/bin/env bash
# Compile a handful of .scala files against /opt/spark/jars + an existing
# classes dir WITHOUT sbt (so long sbt test runs don't block iteration).
# Usage: fastc.sh CLASSES_DIR file1.scala [file2.scala ...]
# Output classes land in CLASSES_DIR (overwriting the sbt-built ones).
set -euo pipefail
CLASSES_DIR=$1; shift
CACHES=("${COURSIER_CACHE:-$HOME/.cache/coursier}" "$HOME/.sbt")
# Locate the scala jars from the local coursier cache (any mirror layout)
# without hardcoding a repository hostname. The newest scala-compiler
# (version order, not byte order: 2.13.9 < 2.13.10) fixes the version;
# library and reflect must be that exact version.
SC=$(find "${CACHES[@]}" -name "scala-compiler-2.13.*.jar" 2>/dev/null | sort -V | tail -1 || true)
[ -n "$SC" ] || { echo "scala-compiler 2.13 jar not found in coursier/sbt caches" >&2; exit 1; }
VERSION=$(basename "$SC" .jar); VERSION=${VERSION#scala-compiler-}
find_jar() {
  find "${CACHES[@]}" -name "$1-$VERSION.jar" 2>/dev/null | head -1 || true
}
SL=$(find_jar scala-library); SR=$(find_jar scala-reflect)
[ -n "$SL" ] && [ -n "$SR" ] || {
  echo "scala-library/scala-reflect $VERSION (the version of $SC) not found" >&2; exit 1; }
CP="$CLASSES_DIR:$(echo /opt/spark/jars/*.jar | tr ' ' ':')"
exec java -cp "$SC:$SL:$SR" \
  scala.tools.nsc.Main -classpath "$CP" -d "$CLASSES_DIR" "$@"
