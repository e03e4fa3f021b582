package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

import graft.core.{CacheBag, PlanWalk, Tables}
import graft.operators.{Crossovers, GeoOps, Projections, TrackOps}
import graft.sources.GeoParquet
import graft.sources.v2.{GraftCatalog, GraftSource}

/** One workload: untimed input generation, a set-up that can be
  * repeated, untimed-for-the-loop warm calls, and one client step of
  * the closed loop.  Every public call goes through [[Tracer.call]].
  */
trait Workload {
  /** Inputs made from the seed; not part of set-up time. */
  def prepare(): Unit
  /** Set-up repetition `rep`: the layouts the loop runs against. */
  def build(rep: Int): Unit
  /** Pick the built state a measured window runs against. */
  def use(window: Int): Unit = ()
  /** First calls, checked and not in the loop: caches, JIT, codegen. */
  def warm(t: Tracer): Unit
  /** The client's next request. */
  def step(t: Tracer, rng: Random): Unit
  /** Sizes and end-of-window facts of the state last used. */
  def facts(): Map[String, Any]
  /** Queries whose outputs an external oracle checks. */
  def oracleChecks(): Seq[Map[String, String]] = Nil
}

object Workload {
  val names = Seq("lake_cdc", "altimetry_batch")

  def apply(name: String, spark: SparkSession, work: Path, scale: Double, seed: Long,
            traced: Boolean): Workload = name match {
    case "lake_cdc" => new LakeCdc(spark, work, scale, seed, traced)
    case "altimetry_batch" => new AltimetryBatch(spark, work, scale, seed)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def sized(full: Long, scale: Double, min: Long): Long = math.max(min, math.round(full * scale))

  /** Files opened and rows produced by the scans of an executed query. */
  def scanStats(df: DataFrame): (Double, Double) = {
    def m(n: org.apache.spark.sql.execution.SparkPlan, k: String) =
      n.metrics.get(k).map(_.value.toDouble).getOrElse(0.0)
    PlanWalk.nodes(df.queryExecution.executedPlan).foldLeft((0.0, 0.0)) {
      case ((f, r), s: FileSourceScanExec) => (f + m(s, "numFiles"), r + m(s, "numOutputRows"))
      case ((f, r), s: BatchScanExec) => (f, r + m(s, "numOutputRows"))
      case (acc, _) => acc
    }
  }

  /** An (x range, y range) query box, half-open on both axes. */
  type Box = ((Double, Double), (Double, Double))

  def box(rng: Random, side: Int): Box = {
    val cx = rng.nextInt(2000 - side) - 1000 + side / 2
    val cy = rng.nextInt(2000 - side) - 1000 + side / 2
    ((cx - side / 2.0, cx + side / 2.0), (cy - side / 2.0, cy + side / 2.0))
  }

  def inBox(x: Double, y: Double, b: Box): Boolean =
    x >= b._1._1 && x < b._1._2 && y >= b._2._1 && y < b._2._2

  def boxSql(b: Box): String =
    s"x >= ${b._1._1} AND x < ${b._1._2} AND y >= ${b._2._1} AND y < ${b._2._2}"

  def sameIds(got: Array[Long], want: Array[Long]): Check = {
    val ok = got.sorted.sameElements(want.sorted)
    Check(got.length, ok, if (ok) "" else s"ids: got ${got.length}, want ${want.length}")
  }
}

import Workload._

/** Commits beside reads on one manifested bin layout registered in a
  * `GraftCatalog`.  Each cycle appends a batch, runs a SQL UPDATE or
  * MERGE INTO on an id band and deletes a band (API or SQL), then
  * sends a burst of reads: a box through the manifest (the first read
  * after the commits, against cold metadata caches), a box count, SQL
  * count/max over a box and a SQL key lookup on the same layout, then
  * padded bins on a bin layout and a box on a Hilbert-clustered layout
  * that both hold the base points and never change.  Every cycle ends
  * with the maintenance job.  Every read is checked against the
  * benchmark's model of the rows it wrote.
  *
  * `queryBins` reads a layout without subtracting pending
  * merge-on-read deletes, so it runs on the unchanging bin layout,
  * as a pure read.
  */
final class LakeCdc(spark: SparkSession, work: Path, scale: Double, seed: Long,
                    traced: Boolean) extends Workload {
  private val n = sized(20000, scale, 400)
  private val batch = sized(500, scale, 10).toInt
  private val band = sized(200, scale, 4).toInt
  private val mergeRows = sized(200, scale, 4).toInt
  private val delta = 250.0
  private val data = work.resolve("data")
  private var base: Array[(Long, Double, Double, Double)] = _
  private val reads = Seq[(Tracer, Random) => Unit](
    boxManifest, countBox, sqlAgg, sqlKey, binsPad, boxCurve)

  /** One built layout and the model of what it holds. */
  private final class State(val rep: Int) {
    val wh = work.resolve(s"lake_cdc-$rep")
    val layout = wh.resolve("geo/points")
    val path = layout.toString
    val bins = wh.resolve("bins").toString
    val curve = wh.resolve("curve").toString
    val table = s"cdc$rep.geo.points"
    val model = mutable.LongMap.empty[(Double, Double, Double)]
    var nextId = 0L
    var cycle = 0
    val pending = mutable.Queue.empty[Random => Unit]
    var start: Map[String, Any] = Map.empty
  }
  private val states = mutable.ArrayBuffer.empty[State]
  private var st: State = _

  def prepare(): Unit = {
    Data.events(spark, data, n, seed)
    base = Tables.eventsPoints(spark, data.toString).select("id", "x", "y", "z").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
  }

  private def shape(): Map[String, Any] = Map(
    "rows" -> st.model.size, "files_live" -> Data.liveDataFiles(st.layout),
    "manifest_parts" -> Data.manifestParts(st.layout),
    "tombstone_files" -> Data.tombstoneFiles(st.layout))

  def build(rep: Int): Unit = {
    val s = new State(rep)
    val pts = spark.createDataFrame(base.toSeq).toDF("id", "x", "y", "z")
    GeoParquet.write(pts, s.path, delta)
    GeoParquet.declareFilterCols(spark, s.path, Seq("id"))
    GeoParquet.writeManifest(spark, s.path)
    GeoParquet.write(pts, s.bins, delta)
    GeoParquet.writeManifest(spark, s.bins)
    GeoParquet.writeHilbertClustered(pts, s.curve, 50.0, 16)
    GeoParquet.writeManifest(spark, s.curve)
    spark.conf.set(s"spark.sql.catalog.cdc$rep", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.cdc$rep.warehouse", s.wh.toString)
    base.foreach { case (id, x, y, z) => s.model(id) = (x, y, z) }
    s.nextId = base.map(_._1).max + 1
    states += s
  }

  // state 0 takes the warm cycles; the measured windows each get a fresh one
  override def use(window: Int): Unit = {
    st = states(states.size - 1 - window)
    st.start = shape()
  }

  // every kind of call once: a whole first cycle (UPDATE, API delete,
  // the reads, maintenance), then the commits of the second (MERGE, SQL delete)
  def warm(t: Tracer): Unit = {
    st = states(0)
    val rng = new Random(seed ^ 0x5eed)
    while (st.cycle < 2 || st.pending.size > reads.size + 1) step(t, rng)
    st.pending.clear()
  }

  /** The client's next request; a cycle's requests queue up when it starts. */
  def step(t: Tracer, rng: Random): Unit = {
    if (st.pending.isEmpty) {
      val i = st.cycle
      st.cycle += 1
      st.pending ++= Seq[Random => Unit](append(t, _), rewrite(t, _, i), delete(t, _, i))
      st.pending ++= reads.map(r => r(t, _))
      st.pending += (_ => maintain(t))
    }
    st.pending.dequeue()(rng)
  }

  /** A batch of new points in one 300×300 patch: an ingest batch covers
    * a strip of ground, so it lands in a few bins, not all of them.
    */
  private def patch(rng: Random, rows: Int): IndexedSeq[(Long, Double, Double, Double)] = {
    val (cx, cy) = (rng.nextInt(1700) - 850, rng.nextInt(1700) - 850)
    val out = (0 until rows).map { j =>
      (st.nextId + j, cx + rng.nextInt(600) / 2.0 - 150.0, cy + rng.nextInt(600) / 2.0 - 150.0,
        rng.nextInt(56000) / 100.0)
    }
    st.nextId += rows
    out
  }

  private def bandStart(rng: Random, width: Int): Long =
    (rng.nextDouble() * math.max(1L, st.nextId - width)).toLong

  private def append(t: Tracer, rng: Random): Unit = {
    val rows = patch(rng, batch)
    val df = spark.createDataFrame(rows).toDF("id", "x", "y", "z")
    t.call("append", "commit")(GeoParquet.appendWithManifest(df, st.path, delta)) { _ =>
      rows.foreach { case (id, x, y, z) => st.model(id) = (x, y, z) }
      Check(rows.size, ok = true)
    }
  }

  /** A row-level rewrite of an id band: UPDATE, or MERGE INTO with inserts. */
  private def rewrite(t: Tracer, rng: Random, i: Int): Unit = {
    val a = bandStart(rng, band)
    if (i % 2 == 0)
      t.call("update", "commit") {
        spark.sql(s"UPDATE ${st.table} SET z = z + 1000.0 WHERE id >= $a AND id < ${a + band}")
      } { _ =>
        val hit = (a until a + band).filter(st.model.contains)
        hit.foreach(id => st.model.updateWith(id)(_.map { case (x, y, z) => (x, y, z + 1000.0) }))
        Check(hit.size, ok = true)
      }
    else {
      // ids of the band that were deleted come back as inserts, at a fresh spot
      val fresh = patch(rng, mergeRows)
      val matched = (a until a + mergeRows / 2).zip(fresh).map { case (id, (_, fx, fy, _)) =>
        val (x, y) = st.model.get(id).map(p => (p._1, p._2)).getOrElse((fx, fy))
        (id, x, y, rng.nextInt(56000) / 100.0)
      }
      val src = matched ++ fresh.drop(matched.size)
      spark.createDataFrame(src).toDF("id", "x", "y", "z").createOrReplaceTempView("cdc_src")
      t.call("merge", "commit") {
        spark.sql(
          s"""MERGE INTO ${st.table} t USING cdc_src s ON t.id = s.id
             |WHEN MATCHED THEN UPDATE SET z = s.z
             |WHEN NOT MATCHED THEN INSERT (id, x, y, z) VALUES (s.id, s.x, s.y, s.z)""".stripMargin)
      } { _ =>
        src.foreach { case (id, x, y, z) =>
          st.model(id) = st.model.get(id).map(p => (p._1, p._2, z)).getOrElse((x, y, z))
        }
        Check(src.size, ok = true)
      }
    }
  }

  /** Delete an id band, through the API or SQL. */
  private def delete(t: Tracer, rng: Random, i: Int): Unit = {
    val d = bandStart(rng, band)
    val forget: Any => Check = { _ =>
      val hit = (d until d + band).filter(st.model.contains)
      hit.foreach(st.model.remove)
      Check(hit.size, ok = true)
    }
    if (i % 2 == 0)
      t.call("delete_api", "commit")(
        GeoParquet.deleteWhere(spark, st.path, col("id") >= d && col("id") < d + band))(forget)
    else
      t.call("delete_sql", "commit")(
        spark.sql(s"DELETE FROM ${st.table} WHERE id >= $d AND id < ${d + band}"))(forget)
  }

  /** The maintenance job: compact when the engine's own gate asks for
    * it (pending deletes or crowded bins), then rebuild the manifest,
    * which a compaction leaves behind.  Each cycle then starts from a
    * layout of the same shape, so one window's reads see what the
    * next one's do.
    */
  private def maintain(t: Tracer): Unit =
    t.call("compact", "commit") {
      val ran = GeoParquet.compactIfNeeded(spark, st.path)
      if (ran) GeoParquet.writeManifest(spark, st.path)
      ran
    } { ran => Check(0, ok = true, if (ran) "" else "not needed") }

  // ---- reads, each checked against the model ----

  private def idsWhere(p: (Double, Double) => Boolean): Array[Long] =
    st.model.iterator.collect { case (id, (x, y, _)) if p(x, y) => id }.toArray

  /** The δ=250 bin key `GeoParquet.write` files a point under. */
  private def binOf(v: Double): Long =
    (BigDecimal(v / delta).setScale(0, BigDecimal.RoundingMode.HALF_UP).toDouble * delta).toLong

  /** Files planned and rows scanned by a read, against the layout's live files. */
  private def readExtra(q: DataFrame, layout: Path, planned: Option[Double] = None) =
    if (!traced) Map.empty[String, Double]
    else {
      val (files, scanned) = scanStats(q)
      Map("files_planned" -> planned.getOrElse(files),
        "files_live" -> Data.liveDataFiles(layout).toDouble, "rows_scanned" -> scanned)
    }

  /** Files the SQL face planned for its last scan of this state's table. */
  private def v2Planned(): Option[Double] =
    GraftSource.lastPlannedFiles.asScala.collectFirst {
      case (k, v) if k.endsWith(s"lake_cdc-${st.rep}/geo/points") => v.size.toDouble
    }

  /** Read your writes: a box through the manifest, checked id by id and value by value. */
  private def boxManifest(t: Tracer, rng: Random): Unit = {
    val b = box(rng, 400)
    val want = st.model.iterator.collect { case (id, (x, y, z)) if inBox(x, y, b) => (id, z) }
      .toArray.sorted
    t.call("box_manifest", "read") {
      val q = t.span("plan")(GeoParquet.queryBoxViaManifest(spark, st.path, b._1, b._2)).select("id", "z")
      (q, q.collect().map(r => (r.getLong(0), r.getDouble(1))).sorted)
    } { case (q, got) =>
      val ok = got.sameElements(want)
      Check(got.length, ok, if (ok) "" else s"box: got ${got.length} rows, want ${want.length}",
        readExtra(q, st.layout))
    }
  }

  private def countBox(t: Tracer, rng: Random): Unit = {
    val b = box(rng, 400)
    val want = idsWhere(inBox(_, _, b)).length.toLong
    t.call("count_box", "read") {
      val q = t.span("plan")(GeoParquet.countBoxViaManifest(spark, st.path, b._1, b._2))
      (q, q.collect()(0).getLong(0))
    } { case (q, got) =>
      Check(1, got == want, if (got == want) "" else s"count $got, want $want", readExtra(q, st.layout))
    }
  }

  /** A bin and its eight neighbours (`queryBins` with pad 1) of the base points. */
  private def binsPad(t: Tracer, rng: Random): Unit = {
    val (bx, by) = (binOf(rng.nextInt(1800) - 900.0), binOf(rng.nextInt(1800) - 900.0))
    val want = base.collect {
      case (id, x, y, _) if math.abs(binOf(x) - bx) <= delta && math.abs(binOf(y) - by) <= delta => id
    }
    t.call("bins_pad", "read") {
      val q = t.span("plan")(GeoParquet.queryBins(spark, st.bins, Seq((bx, by)), 1, delta)).select("id")
      (q, q.collect())
    } { case (q, rows) =>
      sameIds(rows.map(_.getLong(0)), want).copy(extra = readExtra(q, Paths.get(st.bins)))
    }
  }

  private def sqlAgg(t: Tracer, rng: Random): Unit = {
    val b = box(rng, 400)
    val zs = st.model.valuesIterator.collect { case (x, y, z) if inBox(x, y, b) => z }.toArray
    t.call("sql_agg", "read") {
      val q = t.span("plan")(spark.sql(
        s"SELECT count(*) AS n, max(z) AS zmax FROM ${st.table} WHERE ${boxSql(b)}"))
      (q, q.collect()(0))
    } { case (q, r) =>
      val ok = r.getLong(0) == zs.length && (if (zs.isEmpty) r.isNullAt(1) else r.getDouble(1) == zs.max)
      Check(1, ok, if (ok) "" else s"agg $r, want (${zs.length})", readExtra(q, st.layout, v2Planned()))
    }
  }

  private def sqlKey(t: Tracer, rng: Random): Unit = {
    val ids = st.model.keys.toArray
    val id = ids(rng.nextInt(ids.length))
    val (x, y, z) = st.model(id)
    t.call("sql_key", "read") {
      val q = t.span("plan")(spark.sql(s"SELECT id, x, y, z FROM ${st.table} WHERE id = $id"))
      (q, q.collect())
    } { case (q, rows) =>
      val ok = rows.length == 1 && rows(0) == Row(id, x, y, z)
      Check(rows.length, ok, if (ok) "" else s"key $id: ${rows.mkString(",")}",
        readExtra(q, st.layout, v2Planned()))
    }
  }

  /** A box on the curve layout, which holds the base points unchanged. */
  private def boxCurve(t: Tracer, rng: Random): Unit = {
    val b = box(rng, 200)
    val want = base.collect { case (id, x, y, _) if inBox(x, y, b) => id }
    t.call("box_curve", "read") {
      val q = t.span("plan")(GeoParquet.queryBoxCurve(spark, st.curve, b._1, b._2, 50.0)).select("id")
      (q, q.collect())
    } { case (q, rows) =>
      sameIds(rows.map(_.getLong(0)), want).copy(extra = readExtra(q, Paths.get(st.curve)))
    }
  }

  def facts(): Map[String, Any] = {
    val end = shape()
    Map("start" -> st.start, "end" -> end, "cycles" -> st.cycle,
      "layout_bytes" -> Data.bytesUnder(st.layout),
      // id, x, y, z: four 8-byte values a row
      "live_row_bytes" -> st.model.size * 32L,
      "base_rows" -> n, "batch_rows" -> batch, "band_ids" -> band, "merge_rows" -> mergeRows,
      "curve_files" -> Data.liveDataFiles(Paths.get(st.curve)))
  }
}

/** Passes of the altimetry science chain: tracks and along-track
  * filters, crossovers and their dh/dt, block statistics, projection
  * and the geo index.  The chain's products (crossover dh/dt, the
  * block grids, the projected points and the geo index) are written
  * as parquet, as the reference chain keeps them; the intermediate
  * stages end in a noop write.  The cached intermediates are released
  * after every pass.  Lake layouts are never touched.
  */
final class AltimetryBatch(spark: SparkSession, work: Path, scale: Double, seed: Long)
    extends Workload {
  private val nEvents = sized(50000, scale, 1000)
  private val nLines = sized(100000, scale, 2000)
  private val data = work.resolve("data")
  private val checkDir = work.resolve("check")
  private val productDir = work.resolve("products")

  /** (oracle query name, per-layer group, public operator call) */
  val stages: Seq[(String, String, (SparkSession, String) => DataFrame)] = Seq(
    ("q_tracks", "tracks", TrackOps.tracks),
    ("q_segdiff", "filters", TrackOps.segdiff),
    ("q_quality", "filters", TrackOps.quality),
    ("q_phdensity", "filters", TrackOps.phDensity),
    ("q_crossovers", "crossovers", Crossovers.crossovers),
    ("q_xover_dhdt", "xover_dhdt", Crossovers.xoverDhdt),
    ("q_blockmedian", "blockmedian", GeoOps.blockmedian),
    ("q_blockmax", "blockmedian", GeoOps.blockmax),
    ("q_project_epsg", "projection", Projections.projectEpsg),
    ("q_geoindex_build", "geoindex", GeoOps.geoindexBuild),
    ("q_geo_intersect_pad", "geoindex", GeoOps.geoIntersectPad))

  /** The stages whose output a pass keeps. */
  val products = Set("q_xover_dhdt", "q_blockmedian", "q_blockmax", "q_project_epsg",
    "q_geoindex_build")

  def prepare(): Unit = {
    Data.events(spark, data, nEvents, seed)
    Data.lineitem(spark, data, nLines, seed)
  }

  // the operators read their inputs afresh on every call: nothing to set up
  def build(rep: Int): Unit = ()

  private var next = 0
  private var pass = 0

  /** The checked pass, where each stage's output lands as parquet for
    * the oracle comparison, then two passes as the loop runs them: with
    * fewer passes before it, the passes of a window still sped up from
    * one to the next, on JIT warm-up.
    */
  def warm(t: Tracer): Unit = {
    stages.foreach { case (q, _, fn) =>
      t.call(q, "batch") {
        fn(spark, data.toString).write.mode("overwrite").parquet(checkDir.resolve(q).toString)
      }(_ => Check(0, ok = true))
    }
    t.call("release", "release")(CacheBag.releaseAll())(_ => Check(0, ok = true))
    val rng = new Random(seed)
    (0 until 2 * (stages.size + 1)).foreach(_ => step(t, rng))
  }

  // each window starts a pass of its own
  override def use(window: Int): Unit = {
    next = 0
    pass += 1
    CacheBag.releaseAll()
  }

  /** The next stage of the current pass; a pass ends by releasing its
    * cached intermediates.  Calls carry their pass number.  The
    * products of the last pass are checked with the warm pass's.
    */
  def step(t: Tracer, rng: Random): Unit = {
    val tag = Check(0, ok = true, extra = Map("pass" -> pass.toDouble))
    if (next < stages.size) {
      val (q, _, fn) = stages(next)
      t.call(q, "batch") {
        val w = fn(spark, data.toString).write.mode("overwrite")
        if (products(q)) w.parquet(productDir.resolve(q).toString) else w.format("noop").save()
      }(_ => tag)
      next += 1
    } else {
      t.call("release", "release")(CacheBag.releaseAll())(_ => tag)
      next = 0
      pass += 1
    }
  }

  def facts(): Map[String, Any] = Map(
    "events_rows" -> nEvents, "lineitem_rows" -> nLines,
    "input_rows" -> (nEvents + nLines),
    "stage_groups" -> stages.map { case (q, g, _) => q -> g }.toMap,
    "products" -> products.toSeq.sorted)

  override def oracleChecks(): Seq[Map[String, String]] = {
    val sql = graft.SparkEntry.oracleSql
    val warm = stages.map { case (q, _, _) =>
      Map("name" -> q, "output" -> checkDir.resolve(q).toString, "sql" -> sql(q))
    }
    val kept = stages.collect { case (q, _, _) if Files.isDirectory(productDir.resolve(q)) =>
      Map("name" -> s"$q (last pass)", "output" -> productDir.resolve(q).toString, "sql" -> sql(q))
    }
    warm ++ kept
  }
}
