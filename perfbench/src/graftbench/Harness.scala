package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The pinned session.  These are the settings `graft.Bench` applies
  * with every environment override left at its default; no
  * `SPARK_GRAFT_*` variable is read, so both sides of a comparison run
  * the same session whatever their environment says.
  */
object Session {
  def settings(n: Int, work: Path): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$n]",
    "spark.sql.shuffle.partitions" -> n.toString,
    "spark.ui.enabled" -> "false",
    "spark.sql.files.openCostInBytes" -> "131072",
    "spark.sql.sources.parallelPartitionDiscovery.threshold" -> "1024",
    "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "2m",
    "spark.hadoop.fs.iostatistics.thread.level.enabled" -> "false",
    "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version" -> "2",
    "spark.hadoop.fs.file.impl" -> "graft.sources.NioLocalFileSystem",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // keep every byte the run writes inside its work directory
    "spark.local.dir" -> work.resolve("spark-local").toString,
    "spark.sql.warehouse.dir" -> work.resolve("warehouse").toString)

  def start(n: Int, work: Path): SparkSession = {
    val b = SparkSession.builder().appName("graftbench")
    settings(n, work).foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}

/** Machine load around a measured window: hypervisor steal, loadavg
  * and this JVM's own CPU, so a run taken on a busy host says so.
  */
object Telemetry {
  private def read(p: String): String =
    try new String(Files.readAllBytes(Paths.get(p)), "UTF-8") catch { case _: Throwable => "" }

  def loadAvg(): Double =
    read("/proc/loadavg").split(" ").headOption.flatMap(_.toDoubleOption).getOrElse(-1.0)

  /** Steal jiffies (10 ms each), field 8 of the aggregate cpu line. */
  def stealJiffies(): Long =
    read("/proc/stat").linesIterator.nextOption().map(_.trim.split("\\s+")) match {
      case Some(a) if a.length > 8 => a(8).toLong
      case _ => -1L
    }

  def procCpuSec(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
      case _ => -1.0
    }

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb(): Double =
    read("/proc/self/status").linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)

  /** Heap still reachable after a full collection: what the engine,
    * Spark and the benchmark's model retain.
    */
  def liveHeapMb(): Double = {
    System.gc()
    val m = java.lang.management.ManagementFactory.getMemoryMXBean
    m.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Peak and after-collection usage of each heap pool, in MB. */
  def heapPools(): Map[String, Any] =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map { p =>
        val cu = Option(p.getCollectionUsage).map(_.getUsed / 1048576.0).getOrElse(-1.0)
        p.getName -> Map("peak_mb" -> p.getPeakUsage.getUsed / 1048576.0, "after_gc_mb" -> cu,
          "committed_mb" -> p.getUsage.getCommitted / 1048576.0)
      }.toMap

  final class Window {
    private val load0 = loadAvg()
    private val steal0 = stealJiffies()
    private val cpu0 = procCpuSec()
    private val t0 = System.nanoTime()

    def close(): Map[String, Any] = {
      val wall = (System.nanoTime() - t0) / 1e9
      val steal1 = stealJiffies()
      val cpu1 = procCpuSec()
      Map(
        "wall_s" -> wall,
        "loadavg_start" -> load0,
        "loadavg_end" -> loadAvg(),
        "steal_cores" -> (if (steal0 < 0 || steal1 < 0) -1.0 else (steal1 - steal0) * 0.01 / wall),
        "bench_cores" -> (if (cpu0 < 0 || cpu1 < 0) -1.0 else (cpu1 - cpu0) / wall))
    }
  }
}

/** Seeded inputs shaped like the engine's test corpus: an `events`
  * table (the source of every point and track view in
  * `graft.core.Tables`) and a `lineitem` table (the ATL06 quality
  * analogs).  Each column is a hash of (seed, row, column), so the
  * files depend on the seed alone, not on partitioning.
  */
object Data {
  private def h(seed: Long, salt: Int): org.apache.spark.sql.Column =
    xxhash64(lit(seed), col("id"), lit(salt))

  private def pick(seed: Long, salt: Int, n: Long): org.apache.spark.sql.Column =
    pmod(h(seed, salt), lit(n))

  def events(spark: SparkSession, dir: Path, n: Long, seed: Long): Unit = {
    val base = 1704067200000000L // 2024-01-01 00:00:00 UTC, in µs
    val step = 30L * 86400L * 1000000L / math.max(n, 1L)
    val u = (pick(seed, 4, 1000000000L) + 1) / lit(1e9)
    spark.range(n)
      .select(
        col("id").as("event_id"),
        timestamp_micros(lit(base) + col("id") * step + pick(seed, 1, step))
          .cast("timestamp_ntz").as("ts"),
        pick(seed, 2, 1500L).as("user_id"),
        element_at(array(Seq("click", "view", "purchase", "signup", "error").map(lit): _*),
          (pick(seed, 3, 5L) + 1).cast("int")).as("event_type"),
        round(-log(u) * 50.0, 2).as("value"),
        concat(lit("{\"k\": "), pick(seed, 5, 100L).cast("string"), lit("}")).as("props"))
      .coalesce(1).write.mode("overwrite").parquet(dir.resolve("events.parquet").toString)
  }

  def lineitem(spark: SparkSession, dir: Path, n: Long, seed: Long): Unit = {
    val qty = (pick(seed, 13, 50L) + 1).cast("double")
    spark.range(n)
      .select(
        (col("id") / 4).cast("long").as("l_orderkey"),
        pick(seed, 11, 20000L).as("l_partkey"),
        pick(seed, 12, 1000L).as("l_suppkey"),
        (col("id") % 4 + 1).cast("int").as("l_linenumber"),
        qty.as("l_quantity"),
        round(qty * (pick(seed, 14, 110000L) / lit(100.0) + 900.0), 2).as("l_extendedprice"),
        (pick(seed, 15, 11L) / lit(100.0)).as("l_discount"),
        (pick(seed, 16, 9L) / lit(100.0)).as("l_tax"),
        element_at(array(lit("A"), lit("N"), lit("R")), (pick(seed, 17, 3L) + 1).cast("int"))
          .as("l_returnflag"),
        element_at(array(lit("F"), lit("O")), (pick(seed, 18, 2L) + 1).cast("int"))
          .as("l_linestatus"),
        timestamp_micros(lit(694224000000000L) + pick(seed, 19, 2500L) * 86400000000L)
          .cast("timestamp_ntz").as("l_shipdate"))
      .coalesce(1).write.mode("overwrite").parquet(dir.resolve("lineitem.parquet").toString)
  }

  /** Bytes of every regular file under `dir`. */
  def bytesUnder(dir: Path): Long =
    if (!Files.exists(dir)) 0L
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  /** Files under `dir` whose path relative to it satisfies `keep`. */
  def filesUnder(dir: Path)(keep: String => Boolean): Int =
    if (!Files.exists(dir)) 0
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala
        .filter(p => Files.isRegularFile(p) && keep(dir.relativize(p).toString)).size
      finally s.close()
    }

  /** Live data files of a layout: parquet files outside its `_` and `.`
    * metadata directories.
    */
  def liveDataFiles(layout: Path): Int = filesUnder(layout) { rel =>
    rel.endsWith(".parquet") &&
      !rel.split('/').exists(seg => seg.startsWith("_") || seg.startsWith("."))
  }

  def manifestParts(layout: Path): Int =
    filesUnder(layout.resolve("_manifest"))(r => r.endsWith(".parquet") && !r.contains('/'))

  /** Committed parts of the `_tombstones*` sidecars (staging dirs left out). */
  def tombstoneFiles(layout: Path): Int = {
    val s = Files.list(layout)
    val sidecars = try s.iterator().asScala.toList finally s.close()
    sidecars.filter(_.getFileName.toString.startsWith("_tombstones"))
      .map(d => filesUnder(d)(r => r.endsWith(".parquet") && !r.startsWith(".")))
      .sum
  }
}
