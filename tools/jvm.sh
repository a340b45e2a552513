# Sourced by the raw-java launchers (tools/deepcheck.sh, tools/stress.sh),
# the one copy of their JVM flags. `graft_java <heap> [jvm flags...] <main
# class> [args...]` runs a graft main from the compiled classes (sbt
# compile; runs while sbt is busy) with the --add-opens flags Spark needs
# on JDK 17 outside spark-submit (the packages of build.sbt's
# jdk17AddOpens).
graft_java() {
  heap="$1"; shift
  opens=""
  for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
      java.nio java.util java.util.concurrent java.util.concurrent.atomic \
      sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
    opens="$opens --add-opens java.base/$p=ALL-UNNAMED"
  done
  # shellcheck disable=SC2086
  java $opens -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
    -Xmx"$heap" -XX:ReservedCodeCacheSize=2g -XX:MetaspaceSize=512m \
    -cp "target/scala-2.13/classes:/opt/spark/jars/*" "$@"
}
