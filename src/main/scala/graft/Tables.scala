package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-generated testdata tables
  * (`/root/repo/TESTDATA.md`, `/root/repo/FIXTURES.md` §B).
  *
  * `events.ts` is parquet TIMESTAMP(NANOS), which Spark's vectorized reader
  * rejects ([PARQUET_TYPE_ILLEGAL]); sessions must set
  * `spark.sql.legacy.parquet.nanosAsLong=true` (see [[Sessions.builder]]) so
  * it arrives as long nanos, converted here to a proper µs timestamp.
  */
object Tables {
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    // Defensive: a caller-provided session (e.g. the harness smoke test)
    // may not have come through Sessions.builder; the conf is
    // runtime-settable and idempotent, and without it the events read
    // throws [PARQUET_TYPE_ILLEGAL].
    if (name == "events")
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // Naive parquet timestamps (isAdjustedToUTC=false — the shape the
    // driver's pyarrow writer emits for events.ts / l_shipdate /
    // o_orderdate) must read as TIMESTAMP_LTZ, not TIMESTAMP_NTZ: the
    // session timezone is pinned to UTC so the values are identical, and
    // NTZ would break every unix_micros/epoch call site downstream.
    // Same defensive-set rationale as nanosAsLong above, and gated the
    // same way — to the timestamp-bearing tables — so loading any other
    // table never reconfigures a caller-provided session
    // (Sessions.builder sets both confs up front for sessions built here).
    if (name == "events" || name == "lineitem" || name == "orders")
      spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    val df = spark.read.parquet(s"$sfDir/$name.parquet")
    if (name == "events" && df.schema("ts").dataType == org.apache.spark.sql.types.LongType)
      // `div` (integer division), NOT `/`: long / long is DOUBLE division
      // in Spark, and ns-scale epochs (~1.7e18) exceed double's 53-bit
      // mantissa — the ~100ns error can flip a truncated value across a
      // unit boundary.
      df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else df
  }
}

/** One place to build correctly-configured local sessions: UTC, shuffle
  * partitions = cores (not the 200 default — at sf0.1 on local[32] the
  * scheduler overhead of 200 tiny tasks per exchange dominates), AQE on for
  * runtime coalescing/skew handling, nanos-as-long for the events table.
  *
  * Generated code is compiled once per JVM and reused: the codegen cache
  * holds 4096 classes (Spark's default is 100), and class names carry no
  * stage id. A search of a persisted index plans several small queries per
  * call; BM25 search, band decision and IVF search together need about 150
  * distinct classes, so a 100-entry LRU evicted each class before its next
  * use and every call recompiled. The measured working sets: the
  * index-lifecycle benchmark JVM about 520 classes (lifecycle 340, search
  * loop 130, output check 50), the 125-query `graft.Bench` gate surface
  * more than 100 (its `q_fuzzy_join` ran 1.4 s with its classes cached and
  * 3.6 s evicted). A cached entry costs memory only once compiled, so the
  * bound is a ceiling, not a reservation. AQE numbers whole-stage codegen
  * stages in the order its query stages finish, which varies from run to
  * run; with the stage id in the class name, the same plan produced a new
  * class body (a cache miss) whenever that order changed.
  */
object Sessions {
  /** Per-process warehouse location (see builder note) with best-effort
    * removal at JVM exit so repeated bench/verify/test runs don't
    * accumulate bucketed-table copies in the temp dir.
    */
  private lazy val warehouseDir: String = {
    val dir = s"${sys.props("java.io.tmpdir")}/graft-warehouse-" +
      s"${sys.props.getOrElse("user.name", "u")}-${ProcessHandle.current.pid}"
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      import scala.jdk.CollectionConverters._
      val p = java.nio.file.Paths.get(dir)
      if (java.nio.file.Files.exists(p))
        try java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.deleteIfExists)
        catch { case _: java.io.IOException => () } // best-effort only
    }))
    dir
  }

  def builder(cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // naive parquet timestamps read as LTZ (values identical under the
      // UTC session tz above); NTZ would reject unix_micros & friends
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      // compile once per JVM (see the object note)
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.sql.codegen.useIdInClassName", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      // bucketed tables (Layout.writeBucketed) live in the catalog
      // warehouse — keep it out of the repo working tree, and make it
      // UNIQUE PER PROCESS: writeBucketed drops/recreates its table
      // location, so two concurrent graft JVMs (bench + verify, or two
      // users on one host) sharing a warehouse path would delete each
      // other's data mid-query
      .config("spark.sql.warehouse.dir", warehouseDir)
      .config("spark.ui.enabled", "false")
}
