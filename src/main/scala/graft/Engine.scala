package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, unix_micros}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Session factory + table catalog for the graft engine.
  *
  * The reference (sophia-xxx/distributed_system_MapReduce) stores data as
  * line-oriented text files in its SDFS namespace (`file_system/file_system.go:825-875`)
  * and has no schema/catalog; here the catalog is simply "named parquet tables
  * in a directory", which is what the driver's testdata provides and what a
  * production deployment would map to an object store + Hive/Unity-style
  * catalog. Replication/locking (SDFS S1-S7) is delegated to the storage
  * layer by design — see SURVEY.md §1.3.
  */
object Engine {

  /** Build a local session on `cpus` cores (`local[cpus]`, with as many
    * shuffle partitions). The mains get `cpus` from [[Harness.session]].
    * On a real cluster these settings come from spark-submit; only the
    * SQL-level ones (AQE, shuffle partitions) matter for plan shape.
    */
  def session(cpus: Int, appName: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      // native expressions (graft.functions.*) enter through the public
      // extensions API — Spark 4 has no public Column<->Expression bridge.
      .withExtensions(graft.functions.Natives.register)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // BloomFilterAggregate silently clamps its size arguments to these
      // confs (Spark tunes them for its own runtime join filters); raise
      // them so Dedup.decontaminateBloom can size filters for billion-
      // shingle eval suites — 2^32 items / 2^36 bits (8 GB) ceilings,
      // actual size always comes from the operator's argument.
      .config("spark.sql.optimizer.runtime.bloomFilter.maxNumItems", (1L << 32).toString)
      .config("spark.sql.optimizer.runtime.bloomFilter.maxNumBits", (1L << 36).toString)
      // STATIC conf (JVM-wide, bound at first-session creation): the
      // generated-class cache defaults to 100 entries, but a full
      // Bench/Verify pass plans ~180 queries × several codegen fragments
      // each — the warm-up pass's Janino compilations are evicted before
      // the timed pass reaches them, so every timed query pays
      // recompilation and the suite total grows super-linearly in query
      // count (the round-11 "uniform like-for-like drift": +18% when the
      // surface grew 147 → 178 with no plan changes). 4096 holds the
      // whole suite; the classes live in metaspace/code-cache, which
      // build.sbt already sizes for hundreds of codegen units.
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.sql.adaptive.enabled", "true")
      // AQE's initial partition count stays Spark's default (=
      // shuffle.partitions): a finer 256 measured a wash at 1× and a loss
      // at 10× on the heavy joins it was meant to help (STRESS.md §r14)
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // events.ts is parquet TIMESTAMP(NANOS) which Spark 4 refuses by
      // default; read as Long (ns since epoch) and do exact integer time
      // arithmetic in the queries.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // `file:` through the fork-free local filesystem, both its
      // FileSystem and its FileContext (streaming checkpoints) face; the
      // stock one forks a shell per local create, mkdir and rename
      // (graft.sources.LocalFs)
      .config("spark.hadoop.fs.file.impl",
        classOf[graft.sources.LocalFs.Checksummed].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[graft.sources.LocalFs.Context].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Process-level schema cache for the path-based tables: without a
    * catalog, EVERY `spark.read.parquet(path)` pays driver-side schema
    * inference (file listing + a parquet footer read) before planning
    * even starts — per table reference, per query; a 225-query bench
    * pass re-infers the same ten immutable schemas hundreds of times.
    * Caching the SCHEMA (pure metadata — never rows, never plan
    * fragments; scans, pushdown and pruning are untouched) and passing
    * it via `.schema(...)` is exactly what a real catalog (Hive/Iceberg
    * metastore) provides at scale. Keyed by absolute path, so distinct
    * fixture dirs (tests, stress replicas) never collide; the fixture
    * contract is immutable table files (TESTDATA.md); the mtime in the
    * key (below) catches a path rewritten anyway.
    */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long), org.apache.spark.sql.types.StructType]()

  /** The cached-or-inferred schema of a parquet path. Cache keyed on
    * (path, mtime): the fixture contract is immutable files, but a
    * rewritten path (a regenerated temp fixture inside one JVM — the
    * r19 ADVICE stale-read trap) bumps the file/dir mtime, so the stale
    * entry simply stops being hit and the schema is re-inferred. The
    * stat is one metadata call per table reference through the path's
    * Hadoop FileSystem (so a remote URI is keyed on its real mtime too),
    * noise next to the listing + footer read it avoids; entries are a
    * few hundred bytes against a bounded fixture-path population, so
    * stale keys need no eviction.
    */
  private[graft] def cachedSchema(spark: SparkSession,
      path: String): org.apache.spark.sql.types.StructType = {
    val p = new org.apache.hadoop.fs.Path(path)
    val mtime = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getFileStatus(p).getModificationTime
    schemaCache.computeIfAbsent((path, mtime),
      _ => spark.read.parquet(path).schema)
  }

  /** Typed access to the driver testdata tables (TESTDATA.md). Each call is
    * a fresh scan so Catalyst can push per-query filters/projections into
    * the parquet reader — do NOT cache data here; the queries are the unit
    * of optimization (the schema cache above is metadata only).
    */
  final case class Tables(spark: SparkSession, dir: String) {
    def table(name: String): DataFrame = {
      val path = s"$dir/$name.parquet"
      spark.read.schema(Engine.cachedSchema(spark, path)).parquet(path)
    }
    def region: DataFrame     = table("region")
    def nation: DataFrame     = table("nation")
    def customer: DataFrame   = table("customer")
    def supplier: DataFrame   = table("supplier")
    def part: DataFrame       = table("part")
    def orders: DataFrame     = table("orders")
    def lineitem: DataFrame   = table("lineitem")
    def events: DataFrame     = Engine.canonicalizeEventTs(table("events"))
    def documents: DataFrame  = table("documents")
    def embeddings: DataFrame = table("embeddings")
  }

  /** Canonicalize `events.ts` to the engine's Long-nanoseconds convention,
    * tolerant of fixture schema drift. The driver has shipped the column
    * both ways: parquet TIMESTAMP(NANOS), which `nanosAsLong` surfaces as
    * Long ns (the convention every events operator computes on), and
    * parquet timestamp[us], which Spark reads as TIMESTAMP_NTZ. A real
    * timestamp is converted to exact integer ns (`unix_micros * 1000` —
    * no double rounding; µs-since-epoch × 1000 is far below Long overflow);
    * an integral column passes through untouched. The cast NTZ→TIMESTAMP is
    * deterministic under the session's pinned UTC zone. DuckDB oracles are
    * unaffected either way: DuckDB sees a timestamp type for both fixture
    * generations, so `epoch_us(ts)` spellings stay valid.
    *
    * Any other type is a loud failure — silently mis-reading time at
    * 100 TB is how eleven queries broke in round 8 without a single test
    * going red at commit time.
    */
  def canonicalizeEventTs(events: DataFrame): DataFrame =
    events.schema("ts").dataType match {
      case LongType => events
      case TimestampType | TimestampNTZType =>
        events.withColumn("ts",
          unix_micros(col("ts").cast(TimestampType)) * 1000L)
      case other =>
        throw new IllegalStateException(
          s"events.ts has unsupported type $other — expected Long ns or a timestamp; " +
            "fixture schema drifted again, extend Engine.canonicalizeEventTs deliberately")
    }
}
