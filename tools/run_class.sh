#!/bin/bash
# Plain-java runner for graft mains (Verify/Bench/Explain/ScaleProbe callers
# that must not share CPU with sbt): copies compiled classes to a scratch
# classpath and applies the build.sbt JVM flags (heap from
# SPARK_DRIVER_MEM, default 64g, as in build.sbt).
# Usage: tools/run_class.sh <mainClass> [args...]
set -euo pipefail
cd "$(dirname "$0")/.."
MAIN="$1"; shift
# Per-run scratch classpath: two concurrent runs (e.g. Verify + Bench)
# on a shared fixed path would clobber each other's class files while a
# JVM is still lazily loading them (NoClassDefFoundError mid-run).
CP=$(mktemp -d /tmp/graftruncp.XXXXXX)
trap 'rm -rf "$CP"' EXIT
cp -r target/scala-2.13/classes/. "$CP"
# `sbt compile` does not copy resources into the classes dir, and without
# META-INF/services the `tilecache` data source does not resolve
cp -r src/main/resources/. "$CP"
ADDOPENS=""
for p in java.base/java.lang java.base/java.lang.invoke java.base/java.lang.reflect \
         java.base/java.io java.base/java.net java.base/java.nio java.base/java.util \
         java.base/java.util.concurrent java.base/java.util.concurrent.atomic \
         java.base/sun.nio.ch java.base/sun.nio.cs java.base/sun.security.action \
         java.base/sun.util.calendar; do
  ADDOPENS="$ADDOPENS --add-opens $p=ALL-UNNAMED"
done
# no exec: the EXIT trap must fire to remove this run's scratch classpath
java $ADDOPENS -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  "-Xmx${SPARK_DRIVER_MEM:-64g}" -XX:ReservedCodeCacheSize=1g \
  -XX:-UseCodeCacheFlushing -XX:CICompilerCount=8 \
  -XX:PerMethodRecompilationCutoff=-1 -XX:PerBytecodeRecompilationCutoff=-1 \
  -cp "$CP:/opt/spark/jars/*" "$MAIN" "$@"
