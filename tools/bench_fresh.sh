#!/usr/bin/env bash
# Fresh-JVM, jar-direct graft.Bench launcher — the ONE invocation shape
# shared by the round close, focused re-times, and the guard
# triage automation (tools/guard_triage.py), so "controlled re-time"
# always means the same JVM flags, heap, and core count.
#
# Env knobs (all optional):
#   SPARK_GRAFT_SF_DIR     data dir        (default /root/testdata/sf0.1)
#   SPARK_GRAFT_CPUS       local[] threads (default 4, graft.Harness's one
#                          default; graded runs set 32)
#   SPARK_GRAFT_ONLY       comma list of query names to time, e.g.
#                          q69_copurchase_pagerank,q120_purchase_hits
#   SPARK_GRAFT_BENCH_OUT  sidecar path    (default /tmp/graft_bench_times.json;
#                          ONLY the round close points this at the repo)
#   SPARK_GRAFT_HEAP       JVM heap (default 16g — matches the driver's
#                          sbt-forked bench so close numbers stay
#                          comparable to driver numbers)
#
# Bench has no stage profiler of its own: to see one query's stages,
# run graft.StageProf with these flags on the same jar (it builds the
# same session through graft.Harness).
#
# Module flags below are Spark 4.1.2's own JavaModuleOptions defaults.
# Heap is FIXED (-Xms=-Xmx) and PRE-TOUCHED (round 20): this sandbox
# serves first-touch page faults at ~0.2-0.5 GB/s, and the former
# growable -Xmx100g heap re-paid that fault cost every time G1
# uncommitted after a per-query System.gc() and regrew — q233 measured
# 124-205 s vs its 19-27 s historical band; fixed+pretouched 16g
# restored 20.2-28.1 s (min-of-3, this box). Pretouch itself runs once
# at JVM start, before any timed region.
set -euo pipefail
cd "$(dirname "$0")/.."
JAR=target/scala-2.13/etlairflowspotifyspark_2.13-0.1.0.jar
[ -f "$JAR" ] || { echo "jar missing — run: sbt -batch package" >&2; exit 1; }
HEAP="${SPARK_GRAFT_HEAP:-16g}"
# code cache matches build.sbt's sbt-forked bench (codegen-heavy
# 270-query passes overflow the 240 MB default and JIT-evict hot loops)
exec java -Xms"$HEAP" -Xmx"$HEAP" -XX:+AlwaysPreTouch \
  -XX:ReservedCodeCacheSize=1g \
  -XX:+IgnoreUnrecognizedVMOptions --add-modules=jdk.incubator.vector \
  --add-opens=java.base/java.lang=ALL-UNNAMED \
  --add-opens=java.base/java.lang.invoke=ALL-UNNAMED \
  --add-opens=java.base/java.lang.reflect=ALL-UNNAMED \
  --add-opens=java.base/java.io=ALL-UNNAMED \
  --add-opens=java.base/java.net=ALL-UNNAMED \
  --add-opens=java.base/java.nio=ALL-UNNAMED \
  --add-opens=java.base/java.util=ALL-UNNAMED \
  --add-opens=java.base/java.util.concurrent=ALL-UNNAMED \
  --add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED \
  --add-opens=java.base/jdk.internal.ref=ALL-UNNAMED \
  --add-opens=java.base/sun.nio.ch=ALL-UNNAMED \
  --add-opens=java.base/sun.nio.cs=ALL-UNNAMED \
  --add-opens=java.base/sun.security.action=ALL-UNNAMED \
  --add-opens=java.base/sun.util.calendar=ALL-UNNAMED \
  --add-opens=java.security.jgss/sun.security.krb5=ALL-UNNAMED \
  -Djdk.reflect.useDirectMethodHandle=false \
  -Dio.netty.tryReflectionSetAccessible=true \
  -Dio.netty.allocator.type=pooled \
  --enable-native-access=ALL-UNNAMED \
  -cp "$JAR:/opt/spark/jars/*" graft.Bench "$@"
