# Launch settings shared by every script that starts a graft main (sourced
# by the probe, gate, bench and A/B scripts).
#
# Host sizing: SPARK_GRAFT_CPUS cores (default nproc) and a SPARK_DRIVER_MEM
# heap (default half of MemTotal clamped to 2-8g, the tier-1 rule). Both are
# exported: graft mains read SPARK_GRAFT_CPUS, and build.sbt gives forked
# runs -Xmx$SPARK_DRIVER_MEM; raw `java` launches pass -Xmx"$SPARK_DRIVER_MEM".
SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-$(nproc)}
SPARK_DRIVER_MEM=${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' /proc/meminfo)}
export SPARK_GRAFT_CPUS SPARK_DRIVER_MEM

# JPMS --add-opens flags for raw `java` launches of Spark 4 mains
# (sbt-forked runs get the same list from build.sbt). Matches org.apache.spark.launcher.JavaModuleOptions. Without
# them the common paths work, but block eviction under memory pressure hits
# Kryo reflection over java.nio (HeapByteBuffer) and kills the job — seen
# reproducibly profiling LPA at the 100x corpus with a doubled checkpoint
# footprint.
JDK_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  JDK_OPENS="$JDK_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  JDK_OPENS="$JDK_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
export JDK_OPENS
